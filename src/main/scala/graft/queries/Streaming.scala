package graft.queries

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

import graft.nats.{NatsDemo, NatsTransport}
import graft.Tables

/** The reference's namesake surface: SQL over a live NATS subject
  * (SURVEY §2.A), exercised end-to-end through both DSv2 read paths.
  * Correctness-only entries (noBench): their latency is publisher-paced,
  * not engine-paced.
  */
object Streaming {

  private val rowSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private val canonicalRows = Seq("1,apple", "2,banana", "3,orange")

  private val canonicalOracle =
    """SELECT * FROM (VALUES (1, 'apple'), (2, 'banana'), (3, 'orange')) AS t(id, name)
      |ORDER BY id""".stripMargin

  private val sinkId = new AtomicInteger(0)

  val defs: Seq[QueryDef] = Seq(

    // The reference's canonical one-shot workload: `SELECT id, name FROM
    // nats_table limit 3` over a live subject (tests/integration_test.rs:53),
    // via the DSv2 batch path — pushed LIMIT terminates the subscription
    // after 3 rows (working A7).
    QueryDef.noBench("q30_nats_e2e", canonicalOracle) { (s, _) =>
      val url = s"memory://q30-${UUID.randomUUID()}"
      NatsDemo.cyclicPublisher(url, "nats_table", canonicalRows)
      s.read.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "nats_table")
        .option("collectTimeoutMs", "20000")
        .load()
        .limit(3)
        .orderBy("id")
    },

    // The same canonical workload over an ENCRYPTED wire: in-process TLS
    // broker (MiniNatsServer with the in-repo self-signed keystore), the
    // native client upgrades on tls_required INFO, trust rides the
    // `tlsTruststore` SOURCE OPTION — the per-source form of the
    // -Dgraft.nats.tls.truststore knob that serializes to executors
    // instead of mutating JVM-global state (round 14, ADVICE r13) — so
    // the hash gate itself proves publish -> TLS socket -> DSv2
    // streaming read end to end, not just the specs (reference parity:
    // async-nats TLS, Cargo.toml:9). Keystores resolve from the main
    // classpath, so the query is CWD-independent.
    QueryDef.noBench("q147_nats_tls_e2e", canonicalOracle) { (s, _) =>
      import graft.nats.{MiniNatsServer, NatsTransport}
      // Classpath resource -> filesystem path (GraftTls takes paths).
      // Under `sbt runMain` the main resources ride in a packaged jar
      // (jar: URI, not a plain file), so fall back to a temp-file copy.
      def res(name: String): String = {
        val url = getClass.getResource("/" + name)
        require(url != null, s"classpath resource /$name missing")
        if (url.getProtocol == "file")
          new java.io.File(url.toURI).getAbsolutePath
        else {
          val tmp = java.nio.file.Files.createTempFile("graft-tls", ".p12")
          val is = getClass.getResourceAsStream("/" + name)
          try java.nio.file.Files.copy(is, tmp,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally is.close()
          tmp.toFile.deleteOnExit()
          tmp.toString
        }
      }
      val trust = res("graft-tls-trust.p12")
      val server = new MiniNatsServer(
        tlsKeystore = Some((res("graft-tls-test.p12"), "graft-test")))
      try {
        val sink = s"nats_tls_sink_${sinkId.incrementAndGet()}"
        val conn = NatsTransport.connect(server.url, Some((trust, "graft-test")))
        val q = s.readStream.format("nats").schema(rowSchema)
          .option("url", server.url).option("subject", "nats_table")
          .option("batchSize", canonicalRows.size.toString)
          .option("tlsTruststore", trust)
          .option("tlsTruststorePassword", "graft-test")
          .load()
          .writeStream.format("memory").queryName(sink).start()
        try {
          val deadline = System.currentTimeMillis() + 20000
          while (server.subscriptionCount("nats_table") < 1 &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
          canonicalRows.foreach(m => conn.publish("nats_table", m.getBytes))
          q.processAllAvailable()
        } finally {
          q.stop()
          conn.close()
        }
        s.sql(s"SELECT id, name FROM $sink ORDER BY id")
      } finally {
        server.stop()
      }
    },

    // Same workload through the micro-batch streaming path (A1): publish
    // after the subscription is live, drain via the memory sink, return the
    // materialized result as a batch DataFrame for the correctness gate.
    QueryDef.noBench("q31_nats_stream", canonicalOracle) { (s, _) =>
      val url = s"memory://q31-${UUID.randomUUID()}"
      val sink = s"nats_stream_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val q = s.readStream.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "nats_table")
        .option("batchSize", canonicalRows.size.toString) // full-batch admission
        .load()
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "nats_table")
        canonicalRows.foreach(m => conn.publish("nats_table", m.getBytes))
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name FROM $sink ORDER BY id")
    },

    // Trigger.AvailableNow BACKFILL DRAIN (round 14): the operational
    // "catch up on the retained backlog, then stop" mode — what a
    // nightly job runs against a JetStream stream that accumulated all
    // day. The whole `nation` fixture is published DISTRIBUTED through
    // the NATS sink (q32's write path — no driver-side row loop), then
    // an AvailableNow read with a small batchSize drains the retained
    // backlog across MULTIPLE micro-batches (7+7+7+4, the
    // prepare-time-snapshot bound of SupportsTriggerAvailableNow) and
    // self-terminates; the deliberately huge flushTimeoutMs proves
    // bounded runs flush the final partial batch immediately instead of
    // waiting out the timer. Oracle: the fixture table itself — the
    // drain must be exactly the data that went in. At scale this is the
    // replay path whose partitions carry offsets only (executor-side
    // ranged FETCH), so the backfill parallelizes like any batch scan. ----
    QueryDef.noBench(
      "q152_availablenow_backfill",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val url = s"memory://q152-${UUID.randomUUID()}"
      val sink = s"nats_backfill_sink_${sinkId.incrementAndGet()}"
      val nation = graft.Tables.load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      nation.write.format("nats")
        .option("url", url).option("subject", "backfill")
        .mode("append").save()
      val q = s.readStream.format("nats").schema(nation.schema)
        .option("url", url).option("subject", "backfill")
        .option("batchSize", "7")
        .option("flushTimeoutMs", "60000")
        .option("replay", "true").option("startSequence", "0")
        .load()
        .writeStream.format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start()
      require(q.awaitTermination(60000),
        "AvailableNow backfill must drain the backlog and self-terminate")
      s.sql(s"SELECT n_nationkey, n_name, n_regionkey FROM $sink ORDER BY n_nationkey")
    },

    // The write path (beyond parity — the reference has no sink at all):
    // df.write.format("nats") publishes codec-encoded payloads; a live
    // subscription collects them and the codec parses them back. Proves
    // encode->transport->parse is the identity on the canonical rows.
    QueryDef.noBench("q32_nats_sink_roundtrip", canonicalOracle) { (s, _) =>
      val url = s"memory://q32-${UUID.randomUUID()}"
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val conn = NatsTransport.connect(url)
      val sub = conn.subscribe("sink_out")(p => { got.add(new String(p, "UTF-8")); () })
      try {
        import s.implicits._
        Seq((1, "apple"), (2, "banana"), (3, "orange")).toDF("id", "name")
          .write.format("nats")
          .option("url", url).option("subject", "sink_out")
          .mode("append").save()
      } finally { sub.close(); conn.close() }
      val codec = graft.nats.CsvCodec.strict(rowSchema)
      val rows = got.toArray.map(_.toString).toSeq.map { payload =>
        codec.parse(payload) match {
          case Right(Array(id: Int, name: org.apache.spark.unsafe.types.UTF8String)) =>
            (id, name.toString)
          case other => throw new IllegalStateException(s"unparseable sink payload: $payload -> $other")
        }
      }
      import s.implicits._
      rows.toDF("id", "name").orderBy("id")
    },

    // Event-time tumbling window aggregation — the same window() operator
    // Structured Streaming uses for watermarked streams (exercised in
    // streaming mode by NatsSourceSpec's watermark test), verified here in
    // batch mode against DuckDB's time_bucket. Output pins epoch seconds:
    // raw timestamps would hash-differ on ns-vs-us precision.
    QueryDef(
      "q50_tumbling_window",
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS hour_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
        |ORDER BY hour_start, event_type""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
        .select(
          unix_timestamp(col("w.start")).as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    },

    // Watermarked streaming dedup (dropDuplicatesWithinWatermark) over the
    // NATS source: replayed ids across the stream are emitted exactly once.
    // The at-least-once answer to the bus's fire-and-forget delivery — the
    // pattern a real pipeline pairs with the (beyond-parity) NATS sink.
    QueryDef.noBench("q39_stream_dedup", canonicalOracle) { (s, _) =>
      val url = s"memory://q39-${UUID.randomUUID()}"
      val sink = s"nats_dedup_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val dupSchema = StructType(Seq(
        StructField("ts", TimestampType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(dupSchema)
        .option("url", url).option("subject", "dup_subject")
        .option("batchSize", "7") // full-batch admission: deterministic
        .load()
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("id")
        .select(col("id"), col("name"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "dup_subject")
        Seq("2024-01-01 10:00:00,1,apple", "2024-01-01 10:00:01,1,apple",
          "2024-01-01 10:00:02,2,banana", "2024-01-01 10:00:03,1,apple",
          "2024-01-01 10:00:04,2,banana", "2024-01-01 10:00:05,3,orange",
          "2024-01-01 10:00:06,3,orange")
          .foreach(m => conn.publish("dup_subject", m.getBytes))
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name FROM $sink ORDER BY id")
    },

    // Stream-stream inner join: two live NATS subjects joined on key
    // within an event-time band (watermarks on both sides bound the join
    // state — unbounded state is the classic stream-join failure mode at
    // scale). Spark buffers both sides and emits as matches arrive.
    QueryDef.noBench(
      "q61_stream_stream_join",
      """SELECT * FROM (VALUES (1, 'apple', 10), (2, 'banana', 20), (3, 'orange', 30))
        |  AS t(id, name, amount)
        |ORDER BY id""".stripMargin) { (s, _) =>
      val url = s"memory://q61-${UUID.randomUUID()}"
      val sink = s"nats_ssj_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val viewSchema = StructType(Seq(
        StructField("vts", TimestampType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false)))
      val clickSchema = StructType(Seq(
        StructField("cts", TimestampType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("amount", IntegerType, nullable = false)))
      def src(subject: String, schema: StructType) =
        s.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", subject)
          .option("batchSize", "3").load()
      val views = src("views", viewSchema).withWatermark("vts", "10 minutes")
      val clicks = src("clicks", clickSchema).withWatermark("cts", "10 minutes")
      val q = views.join(clicks,
          col("id") === col("cid") &&
            col("cts") >= col("vts") && col("cts") <= col("vts") + expr("interval 1 hour"))
        .select(col("id"), col("name"), col("amount"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "views")
        NatsDemo.awaitSubscriber(url, "clicks")
        Seq("2024-01-01 10:00:00,1,apple", "2024-01-01 10:00:01,2,banana",
          "2024-01-01 10:00:02,3,orange")
          .foreach(m => conn.publish("views", m.getBytes))
        Seq("2024-01-01 10:05:00,1,10", "2024-01-01 10:05:01,2,20",
          "2024-01-01 10:05:02,3,30")
          .foreach(m => conn.publish("clicks", m.getBytes))
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name, amount FROM $sink ORDER BY id")
    },

    // Sliding (hopping) event-time windows: duration 1 h, slide 30 min —
    // every event lands in exactly two windows. Oracle: each event is
    // duplicated into its two 30-min-aligned window starts via unnest,
    // mirroring Spark's epoch-aligned half-open [start, start+1h) windows.
    QueryDef(
      "q38_sliding_window",
      """WITH e2 AS (
        |  SELECT event_type, value,
        |    time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes' AS ws
        |  FROM events, unnest([0, 1]) AS u(o))
        |SELECT CAST(epoch(ws) AS BIGINT) AS win_start, event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM e2 GROUP BY ws, event_type
        |ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
        .select(
          unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },

    // Session windows (dynamic-gap event-time sessions): Spark's
    // session_window operator, oracled by the classic gaps-and-islands
    // rewrite (lag + running sum) in DuckDB. Sessions are half-open
    // [start, last + gap): an event exactly `gap` after the previous one
    // starts a NEW session, hence `>=` in the oracle's gap predicate.
    // end = last event + gap, per Spark's session semantics.
    // floor(epoch(...)) everywhere: these timestamps carry fractional
    // seconds and Spark's unix_timestamp floors while DuckDB's CAST rounds.
    QueryDef(
      "q51_session_window",
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM o)
        |SELECT user_id,
        |  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS sess_start,
        |  CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1800 AS sess_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("sess_start"),
          unix_timestamp(col("w.end")).as("sess_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // As-of join (latest order at-or-before each event), composed from
    // existing operators per the preference order — union the tagged
    // streams, one shuffle on the key, running last_value(ignoreNulls):
    // no per-key fan-out join, which is what makes it hold at 100 TB.
    // Oracle: DuckDB's native ASOF LEFT JOIN.
    QueryDef(
      "q52_asof_join",
      """SELECT e.event_type, COUNT(*) AS n_events,
        |  COUNT(o.o_orderdate) AS n_matched,
        |  CAST(CAST(SUM(floor(epoch(e.ts)) - floor(epoch(o.o_orderdate))) AS DOUBLE)
        |       / COUNT(o.o_orderdate) AS DOUBLE) AS avg_gap_sec
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
          lit(0).as("tag"), lit(null).cast(StringType).as("event_type"))
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_type"))
      // at equal ts the order sorts first (tag 0 < 1) => inclusive "<="
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.unionByName(e)
        .withColumn("asof_ts",
          last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count(col("asof_ts")).as("n_matched"),
          (sum(unix_timestamp(col("ts")) - unix_timestamp(col("asof_ts"))).cast(DoubleType)
            / count(col("asof_ts"))).cast(DoubleType).as("avg_gap_sec"))
        .orderBy(col("event_type"))
    },

    // Custom streaming state (mapGroupsWithState) over the live NATS
    // source: per-user running event count AND max inter-event gap —
    // the gap needs the previous event's timestamp remembered across
    // micro-batches, which no built-in streaming aggregate expresses.
    // Two publish rounds force two micro-batches (batchSize=3 full-batch
    // admission), so the state genuinely survives a batch boundary.
    // State is O(1) per user (three longs) — the shape that holds at
    // 100 TB streaming volume; update-mode emissions are monotone in
    // both outputs, so the sink's MAX per key is the final state.
    QueryDef.noBench(
      "q80_stream_stateful",
      """SELECT uid, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(max_gap_s AS BIGINT) AS max_gap_s
        |FROM (VALUES (1, 3, 30), (2, 3, 60)) AS t(uid, n_events, max_gap_s)
        |ORDER BY uid""".stripMargin) { (s, _) =>
      val url = s"memory://q80-${UUID.randomUUID()}"
      val sink = s"nats_state_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val schema = StructType(Seq(
        StructField("ts", TimestampType, nullable = false),
        StructField("uid", IntegerType, nullable = false)))
      import s.implicits._
      val updates = s.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "user_events")
        .option("batchSize", "3").load()
        .select(col("uid"), unix_timestamp(col("ts")).as("sec"))
        .as[(Int, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState(
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          (uid: Int, rows: Iterator[(Int, Long)],
           st: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
            var (c, last, gap) = st.getOption.getOrElse((0L, Long.MinValue, 0L))
            // sort within the batch: admission order is deterministic but
            // group iterators are not required to preserve it
            rows.map(_._2).toSeq.sorted.foreach { sec =>
              if (last != Long.MinValue) gap = math.max(gap, sec - last)
              last = sec; c += 1
            }
            st.update((c, last, gap))
            (uid, c, gap)
        }
        .toDF("uid", "n_events", "max_gap_s")
      val q = updates.writeStream.outputMode("update")
        .format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "user_events")
        // batch 1 — u1: 10:00:00, 10:00:10; u2: 10:00:00
        Seq("2024-01-01 10:00:00,1", "2024-01-01 10:00:10,1", "2024-01-01 10:00:00,2")
          .foreach(m => conn.publish("user_events", m.getBytes))
        q.processAllAvailable()
        // batch 2 — u1: +30 s gap; u2: +60 s then +5 s gaps
        Seq("2024-01-01 10:00:40,1", "2024-01-01 10:01:00,2", "2024-01-01 10:01:05,2")
          .foreach(m => conn.publish("user_events", m.getBytes))
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"""SELECT uid, MAX(n_events) AS n_events, MAX(max_gap_s) AS max_gap_s
               |FROM $sink GROUP BY uid ORDER BY uid""".stripMargin)
    },

    // One streaming table over a subject FAMILY: core-NATS wildcard
    // subscription (`regions.*` — `*` spans exactly one dot-token) at
    // the source-option level. Three concrete subjects feed one scan;
    // the deep subject proves `*` does not over-match.
    QueryDef.noBench(
      "q87_wildcard_stream",
      """SELECT * FROM (VALUES (1, 'us'), (2, 'eu'), (3, 'apac')) AS t(id, name)
        |ORDER BY id""".stripMargin) { (s, _) =>
      val url = s"memory://q87-${UUID.randomUUID()}"
      val sink = s"nats_wild_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val q = s.readStream.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "regions.*")
        .option("batchSize", "3")
        .load()
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "regions.us")
        conn.publish("regions.us", "1,us".getBytes)
        conn.publish("regions.eu", "2,eu".getBytes)
        conn.publish("regions.us.west", "9,deep".getBytes) // not matched by *
        conn.publish("regions.apac", "3,apac".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name FROM $sink ORDER BY id")
    },

    // Stream–static enrichment: the canonical streaming join at scale — a
    // live NATS stream joined per micro-batch against a static dimension
    // table (nation parquet). The static side re-plans as a broadcast in
    // every micro-batch (kilobytes shipped once per trigger), so the
    // stream side never shuffles: the 1000-executor shape for enriching
    // an unbounded feed with reference data. The oracle joins the same
    // published keys against the same parquet, so the lookup itself is
    // hash-checked, not just the transport.
    QueryDef.noBench(
      "q97_stream_static_join",
      """SELECT t.id, n.n_name
        |FROM (VALUES (1, 0), (2, 5), (3, 24)) AS t(id, nk)
        |JOIN nation n ON t.nk = n.n_nationkey
        |ORDER BY t.id""".stripMargin) { (s, dir) =>
      val url = s"memory://q97-${UUID.randomUUID()}"
      val sink = s"nats_enrich_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val feedSchema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("nk", IntegerType, nullable = false)))
      val nation = Tables.load(s, dir, "nation")
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "feed")
        .option("batchSize", "3")
        .load()
        .join(broadcast(nation), col("nk") === col("n_nationkey"))
        .select(col("id"), col("n_name"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "feed")
        conn.publish("feed", "1,0".getBytes)
        conn.publish("feed", "2,5".getBytes)
        conn.publish("feed", "3,24".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, n_name FROM $sink ORDER BY id")
    },

    // JSON payload codec (codec=json), full loop over the bus: the NATS
    // sink encodes rows as one flat JSON object per message, the streaming
    // source decodes them back with the same strict codec — proving
    // sink-encode → transport → source-parse is the identity on a second
    // wire format (PayloadCodec seam; the reference hard-wires CSV at
    // src/data_source.rs:24).
    QueryDef.noBench("q91_nats_json", canonicalOracle) { (s, _) =>
      val url = s"memory://q91-${UUID.randomUUID()}"
      val sink = s"nats_json_sink_${sinkId.incrementAndGet()}"
      val q = s.readStream.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "json_table")
        .option("codec", "json")
        .option("batchSize", canonicalRows.size.toString)
        .load()
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "json_table")
        import s.implicits._
        Seq((1, "apple"), (2, "banana"), (3, "orange")).toDF("id", "name")
          .write.format("nats")
          .option("url", url).option("subject", "json_table")
          .option("codec", "json")
          .mode("append").save()
        q.processAllAvailable()
      } finally q.stop()
      s.sql(s"SELECT id, name FROM $sink ORDER BY id")
    },

    // Schema inference E2E (option("inferSchema", "true") — the feature
    // the reference ADVERTISES, README.md:9, but left TODO, README.md:17):
    // no .schema(...) call at all. Field names AND types come from a
    // bounded sample of retained payloads (SchemaInference), then the
    // same replay read returns the rows — an inferred schema parses the
    // very payloads it was inferred from, deterministically (retention
    // sampling, no live-subscription timing).
    QueryDef.noBench("q92_infer_schema", canonicalOracle) { (s, _) =>
      val url = s"memory://q92-${UUID.randomUUID()}"
      val conn = NatsTransport.connect(url)
      try Seq("""{"id":1,"name":"apple"}""", """{"id":2,"name":"banana"}""",
        """{"id":3,"name":"orange"}""")
        .foreach(m => conn.publish("infer_table", m.getBytes))
      finally conn.close()
      s.read.format("nats")
        .option("url", url).option("subject", "infer_table")
        .option("codec", "json")
        .option("inferSchema", "true")
        .option("replay", "true").option("startSequence", "0")
        .load()
        .orderBy("id")
    },

    // Message-envelope metadata columns (includeMetadata=true — the
    // Kafka topic/partition/offset analog): one streaming table over a
    // wildcard family where each row carries the CONCRETE subject it was
    // published on (_subject, the only way to tell family members apart)
    // and its source sequence (_seq). Batch reads get the same columns
    // as hidden DSv2 metadata columns (SupportsMetadataColumns), pruned
    // in by name — NatsMetadataSpec covers that surface.
    QueryDef.noBench(
      "q95_subject_metadata",
      """SELECT * FROM (VALUES
        |  (1, 'us',   'regions.us',   CAST(1 AS BIGINT)),
        |  (2, 'eu',   'regions.eu',   CAST(2 AS BIGINT)),
        |  (3, 'apac', 'regions.apac', CAST(3 AS BIGINT)))
        |  AS t(id, name, _subject, _seq)
        |ORDER BY id""".stripMargin) { (s, _) =>
      val url = s"memory://q95-${UUID.randomUUID()}"
      val sink = s"nats_meta_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val q = s.readStream.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "regions.*")
        .option("batchSize", "3")
        .option("includeMetadata", "true")
        .load()
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "regions.us")
        conn.publish("regions.us", "1,us".getBytes)
        conn.publish("regions.eu", "2,eu".getBytes)
        conn.publish("regions.apac", "3,apac".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name, _subject, _seq FROM $sink ORDER BY id")
    },

    // NATS message headers as first-class envelope data (the HPUB/HMSG
    // extension; round-12 _headers metadata column): a producer stamps
    // provenance headers on each message, and the stream reads them back
    // through the hidden metadata surface — no includeMetadata, the
    // projection binds `_headers` by name. The map is probed with
    // element_at (missing key -> NULL) and sized, so the oracle compares
    // deterministic scalars, never map iteration order. Headerless
    // messages read as an EMPTY map (n_headers 0), not NULL — the
    // envelope column is non-nullable by contract.
    QueryDef.noBench(
      "q101_headers_envelope",
      """SELECT * FROM (VALUES
        |  (1, 'apple',  'trace-1', 'ingest-7', 2),
        |  (2, 'banana', NULL,      NULL,       0),
        |  (3, 'orange', 'trace-3', NULL,       1))
        |  AS t(id, name, trace_id, source, n_headers)
        |ORDER BY id""".stripMargin) { (s, _) =>
      val url = s"memory://q101-${UUID.randomUUID()}"
      val sink = s"nats_hdr_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val q = s.readStream.format("nats").schema(rowSchema)
        .option("url", url).option("subject", "hdr.ev")
        .option("batchSize", "3")
        .load()
        .select(col("id"), col("name"),
          col("_headers").getItem("Trace-Id").as("trace_id"),
          col("_headers").getItem("Source").as("source"),
          size(map_keys(col("_headers"))).as("n_headers"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "hdr.ev")
        conn.publish("hdr.ev",
          Seq("Trace-Id" -> "trace-1", "Source" -> "ingest-7"), "1,apple".getBytes)
        conn.publish("hdr.ev", "2,banana".getBytes)
        conn.publish("hdr.ev",
          Seq("Trace-Id" -> "trace-3"), "3,orange".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name, trace_id, source, n_headers FROM $sink ORDER BY id")
    },

    // Spark 4's transformWithState (the arbitrary-state API succeeding
    // mapGroupsWithState) over the live NATS source: per-user TYPED
    // multi-state — two ValueStates (event count, floored value sum) and
    // a MapState of per-event-type counts. The MapState is the part the
    // old API cannot express incrementally: mapGroupsWithState holds ONE
    // value per key, so a type histogram means rewriting the whole map
    // every update, while MapState point-updates one (type -> count)
    // entry in the store — O(1) state I/O per event at 100 TB streaming
    // volume. Requires the multi-column-family RocksDB state store
    // (set for this query, restored after). Two publish rounds force a
    // batch boundary; update-mode emissions are monotone in all three
    // outputs, so the sink's MAX per key is the final state.
    QueryDef.noBench(
      "q105_transform_with_state",
      """SELECT uid, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  CAST(sum_floor AS BIGINT) AS sum_floor
        |FROM (VALUES (1, 3, 2, 3), (2, 3, 3, 8)) AS t(uid, n_events, n_types, sum_floor)
        |ORDER BY uid""".stripMargin) { (s, _) =>
      val url = s"memory://q105-${UUID.randomUUID()}"
      val sink = s"nats_tws_sink_${sinkId.incrementAndGet()}"
      val schema = StructType(Seq(
        StructField("ts", TimestampType, nullable = false),
        StructField("uid", IntegerType, nullable = false),
        StructField("etype", StringType, nullable = false),
        StructField("value", DoubleType, nullable = false)))
      import s.implicits._
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val conn = NatsTransport.connect(url)
        val updates = s.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", "user_events_tws")
          .option("batchSize", "3").load()
          .select(col("uid"), col("etype"), floor(col("value")).cast(LongType).as("vf"))
          .as[(Int, String, Long)]
          .groupByKey(_._1)
          .transformWithState(new UserStatsProcessor, TimeMode.None(), OutputMode.Update())
          .toDF("uid", "n_events", "n_types", "sum_floor")
        val q = updates.writeStream.outputMode("update")
          .format("memory").queryName(sink).start()
        try {
          NatsDemo.awaitSubscriber(url, "user_events_tws")
          // batch 1 — u1: click 1.5, view 2.5; u2: click 3.0
          Seq("2024-01-01 10:00:00,1,click,1.5", "2024-01-01 10:00:10,1,view,2.5",
            "2024-01-01 10:00:00,2,click,3.0")
            .foreach(m => conn.publish("user_events_tws", m.getBytes))
          q.processAllAvailable()
          // batch 2 — u1: repeat type (n_types stays 2); u2: two new types
          Seq("2024-01-01 10:00:40,1,click,0.5", "2024-01-01 10:01:00,2,buy,4.0",
            "2024-01-01 10:01:05,2,view,1.0")
            .foreach(m => conn.publish("user_events_tws", m.getBytes))
          q.processAllAvailable()
        } finally {
          q.stop()
          conn.close()
        }
      } finally prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
      s.sql(s"""SELECT uid, MAX(n_events) AS n_events, MAX(n_types) AS n_types,
               |  MAX(sum_floor) AS sum_floor
               |FROM $sink GROUP BY uid ORDER BY uid""".stripMargin)
    },

    // Event-time TIMERS (transformWithState + TimeMode.EventTime): session
    // summaries emitted ONLY when the watermark passes a per-key timer set
    // 30 s after the key's last event — emission fully decoupled from
    // input rows (the no-data micro-batch fires the expired timers), the
    // pattern for "emit when a key goes quiet" at scale: no polling tick
    // stream, no per-trigger full-state scan — the store indexes timers by
    // expiry. u1 spans a batch boundary (its first timer is deleted and
    // re-registered); u3's late traffic advances the watermark past
    // u1/u2's timers but its own never expires — exactly two sessions
    // close. Append mode: rows exist only where timers fired.
    QueryDef.noBench(
      "q106_stream_timers",
      """SELECT uid, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(dur_s AS BIGINT) AS dur_s
        |FROM (VALUES (1, 3, 20), (2, 1, 0)) AS t(uid, n_events, dur_s)
        |ORDER BY uid""".stripMargin) { (s, _) =>
      val url = s"memory://q106-${UUID.randomUUID()}"
      val sink = s"nats_timer_sink_${sinkId.incrementAndGet()}"
      val schema = StructType(Seq(
        StructField("ts", TimestampType, nullable = false),
        StructField("uid", IntegerType, nullable = false)))
      import s.implicits._
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val conn = NatsTransport.connect(url)
        val sessions = s.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", "session_events")
          .option("batchSize", "3").load()
          .withWatermark("ts", "10 seconds")
          .select(col("uid"), unix_timestamp(col("ts")).as("sec"))
          .as[(Int, Long)]
          .groupByKey(_._1)
          .transformWithState(new SessionTimerProcessor,
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("uid", "n_events", "dur_s")
        val q = sessions.writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
        try {
          NatsDemo.awaitSubscriber(url, "session_events")
          // batch 1 — u1: 10:00:00, 10:00:10 (timer -> 10:00:40);
          //           u2: 10:00:05 (timer -> 10:00:35)
          Seq("2024-01-01 10:00:00,1", "2024-01-01 10:00:10,1", "2024-01-01 10:00:05,2")
            .foreach(m => conn.publish("session_events", m.getBytes))
          q.processAllAvailable()
          // batch 2 — u1 extends (timer re-registered -> 10:00:50); u3's
          // traffic drives the watermark to 10:01:51: past u1/u2's timers
          // (fired in the trailing no-data batch), short of u3's own
          Seq("2024-01-01 10:00:20,1", "2024-01-01 10:02:00,3", "2024-01-01 10:02:01,3")
            .foreach(m => conn.publish("session_events", m.getBytes))
          q.processAllAvailable()
        } finally {
          q.stop()
          conn.close()
        }
      } finally prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
      s.sql(s"SELECT uid, n_events, dur_s FROM $sink ORDER BY uid")
    },

    // Batch-bootstrapped streaming state (StatefulProcessorWithInitialState):
    // the warm-start pattern for stream jobs that take over from a batch
    // backfill — "yesterday's" per-user totals load as the stream's
    // INITIAL state via handleInitialState (no synthetic catch-up replay
    // of historic events), and live traffic increments from there. A key
    // with only initial state stays silent until it sees live rows (u2);
    // a key with only live rows starts from zero (u3) — both semantics
    // pinned. At scale this is how a 100 TB backfill hands off to the
    // stream: state seeds from the batch table partition-parallel, not by
    // re-publishing history through the broker.
    QueryDef.noBench(
      "q108_stream_initial_state",
      """SELECT uid, CAST(total AS BIGINT) AS total
        |FROM (VALUES (1, 12), (3, 1)) AS t(uid, total)
        |ORDER BY uid""".stripMargin) { (s, _) =>
      val url = s"memory://q108-${UUID.randomUUID()}"
      val sink = s"nats_init_sink_${sinkId.incrementAndGet()}"
      import s.implicits._
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.getOption(provKey)
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val conn = NatsTransport.connect(url)
        // "yesterday's batch": per-user totals the stream starts from
        val initial = Seq((1, 10L), (2, 5L)).toDS().groupByKey(_._1)
        val totals = s.readStream.format("nats").schema(StructType(Seq(
            StructField("uid", IntegerType, nullable = false))))
          .option("url", url).option("subject", "live_events")
          .option("batchSize", "3").load()
          .as[Int]
          .groupByKey(identity)
          .transformWithState(new WarmStartCountProcessor,
            TimeMode.None(), OutputMode.Update(), initial)
          .toDF("uid", "total")
        val q = totals.writeStream.outputMode("update")
          .format("memory").queryName(sink).start()
        try {
          NatsDemo.awaitSubscriber(url, "live_events")
          // u1 seeds at 10 and sees 2 live events; u3 has no seed; u2's
          // seed stays silent (no live traffic -> no emission)
          Seq("1", "1", "3").foreach(m => conn.publish("live_events", m.getBytes))
          q.processAllAvailable()
        } finally {
          q.stop()
          conn.close()
        }
      } finally prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
      s.sql(s"SELECT uid, MAX(total) AS total FROM $sink GROUP BY uid ORDER BY uid")
    },

    // foreachBatch — the streaming→batch bridge sink: each micro-batch
    // lands as a normal batch DataFrame write, here maintaining the
    // q110-style MinHash band INDEX incrementally from the live stream
    // (new crawl docs arrive on NATS, their band rows append to the
    // standing index; the corpus never recomputes). Two publish rounds
    // prove the appends accumulate across batches. At 100 TB this is the
    // production index-maintenance loop: the stream ships only
    // (doc_id, band, key) rows — kilobytes per doc — into a bucketed
    // table the q110 batch triage then joins against.
    QueryDef.noBench(
      "q111_stream_index_maintain",
      """SELECT doc_id, CAST(n_bands AS BIGINT) AS n_bands
        |FROM (VALUES (1, 6), (2, 6), (3, 6), (4, 6)) AS t(doc_id, n_bands)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = s"memory://q111-${UUID.randomUUID()}"
      // Round 18 (VERDICT r17 #3): the maintained index is a SketchStore
      // band DELTA — the same schema, bucketing and root as the stored
      // base artifact q41/q110/q189 read, written through the same
      // banding transform (SketchStore.bandRowsOf). Stream and batch
      // provably share ONE index structure; the ad-hoc parallel parquet
      // dir this entry used through round 17 is gone.
      val idxTbl = SketchStore.resetBandsDelta(s, dir)
      val conn = NatsTransport.connect(url)
      val schema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "crawl_docs")
        .option("batchSize", "2").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          SketchStore.appendBandsDelta(
            SketchStore.bandRowsOf(batch.withColumn("lang", lit("und"))), idxTbl)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "crawl_docs")
        conn.publish("crawl_docs", "1,alpha beta gamma delta".getBytes)
        conn.publish("crawl_docs", "2,the quick brown fox".getBytes)
        q.processAllAvailable()
        conn.publish("crawl_docs", "3,alpha beta gamma delta".getBytes) // near-dup of 1
        conn.publish("crawl_docs", "4,slow green turtle pace".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.table(idxTbl)
        .groupBy(col("doc_id").cast(IntegerType).as("doc_id"))
        .agg(count(lit(1)).as("n_bands"))
        .orderBy(col("doc_id"))
    },

    // Dedup-AT-INGEST (round 14): q111 maintains the standing band
    // index; a real crawl loop also TRIAGES each arriving batch against
    // that index before appending — one foreachBatch does both, so a
    // duplicate published in batch 2 is flagged against batch 1's bands
    // with exactly one index round-trip per micro-batch. Doc 3 (batch 2)
    // is a near-dup of doc 1 (batch 1): its MinHash bands collide with
    // the standing index and it is flagged AND withheld from the index
    // (the index stays canonical — later copies keep matching the FIRST
    // occurrence, the q40/q110 kept-first rule at ingest time). At
    // 100 TB this is the production ingest loop: the batch is small, the
    // index is a bucketed table joined on (band, key) — cost tracks the
    // batch, the corpus is never rescanned, and the left-semi probe is
    // the only corpus-sized-index touch. ----
    QueryDef.noBench(
      "q154_stream_dedup_ingest",
      """SELECT doc_id, is_dup
        |FROM (VALUES (1, false), (2, false), (3, true), (4, false))
        |  AS t(doc_id, is_dup)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val url = s"memory://q154-${UUID.randomUUID()}"
      val triageDir = java.nio.file.Files.createTempDirectory("graft-ingest-triage").toString
      val conn = NatsTransport.connect(url)
      val schema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("text", StringType, nullable = false)))
      // Round 18 (VERDICT r17 #3): the ingest loop's index is the
      // SketchStore band DELTA (same layout + root as the base artifact)
      // and its triage probe reads base ∪ delta — the stream and the
      // batch sweeps (q41/q110/q189) provably share the SAME standing
      // base-artifact path. The toy docs' band keys are disjoint from
      // the fixture corpus keys by construction (distinct 3-gram sets),
      // so the pinned VALUES oracle is unchanged.
      val idxTbl = SketchStore.resetBandsDelta(s, dir)
      SketchStore.bands(s, dir) // ensure the base artifact exists up front
      // ADVICE r18: the pinned VALUES oracle relies on the toy docs'
      // band keys being ABSENT from the fixture corpus's base artifact —
      // an empirical property of the texts, not a structural one. Assert
      // it at build time: a regenerated fixture that happens to contain
      // one of these 3-gram sets fails LOUDLY here instead of silently
      // flipping a toy doc to dup and hash-failing downstream.
      val toyDocs = s.createDataFrame(Seq(
        (1L, "und", "alpha beta gamma delta"),
        (2L, "und", "the quick brown fox"),
        (3L, "und", "alpha beta gamma delta"),
        (4L, "und", "slow green turtle pace"))).toDF("doc_id", "lang", "text")
      val toyHits = SketchStore.bandRowsOf(toyDocs)
        .join(SketchStore.bands(s, dir), Seq("band", "key"), "left_semi").count()
      require(toyHits == 0L,
        s"q154 fixture guard: $toyHits toy band keys collide with the base " +
          "artifact — the pinned VALUES oracle no longer holds for this fixture")
      val q = s.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "crawl_docs")
        .option("batchSize", "2").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val sess = batch.sparkSession
          val b = SketchStore.bandRowsOf(batch.withColumn("lang", lit("und")))
            .persist()
          try {
            // triage: any shared (band, key) with the standing index —
            // the immutable base artifact PLUS this stream's delta
            val idx = sess.table(idxTbl).select(col("band"), col("key"))
              .unionByName(SketchStore.bands(sess, dir).select(col("band"), col("key")))
            val dup = b.join(idx, Seq("band", "key"), "left_semi")
              .select(col("doc_id")).distinct()
            b.select(col("doc_id")).distinct()
              .join(dup.withColumn("d", lit(1)), Seq("doc_id"), "left")
              .select(col("doc_id"), col("d").isNotNull.as("is_dup"))
              .write.mode("append").parquet(triageDir)
            // append: only CLEAN docs' bands join the canonical index
            SketchStore.appendBandsDelta(
              b.join(dup, Seq("doc_id"), "left_anti"), idxTbl)
          } finally b.unpersist()
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "crawl_docs")
        conn.publish("crawl_docs", "1,alpha beta gamma delta".getBytes)
        conn.publish("crawl_docs", "2,the quick brown fox".getBytes)
        q.processAllAvailable()
        conn.publish("crawl_docs", "3,alpha beta gamma delta".getBytes) // near-dup of 1
        conn.publish("crawl_docs", "4,slow green turtle pace".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.read.parquet(triageDir).orderBy(col("doc_id"))
    },

    // Spark 4's state data source — the ops/debugging surface for
    // stateful streams: AFTER the query stops, its checkpointed state
    // opens as a normal batch DataFrame (format "statestore"), no
    // re-run, no sink archaeology. Two publish rounds prove the read
    // surfaces MERGED state across micro-batches (view 2+3, purchase
    // 2+1, click 1+1), not the last batch's delta. At 100 TB this is
    // how you audit a misbehaving aggregation's keys without replaying
    // the topic: the state files are partition-parallel parquet-like
    // snapshots, and the read is one scan of exactly the keys held. ----
    QueryDef.noBench(
      "q118_state_store_read",
      """SELECT * FROM (VALUES ('click', CAST(2 AS BIGINT)),
        |                      ('purchase', CAST(3 AS BIGINT)),
        |                      ('view', CAST(5 AS BIGINT))) AS t(event_type, n)
        |ORDER BY event_type""".stripMargin) { (s, _) =>
      val url = s"memory://q118-${UUID.randomUUID()}"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-state-read").toString
      val sink = s"state_read_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val schema = StructType(Seq(
        StructField("event_type", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "typed_events")
        .option("batchSize", "5") // full-batch admission per publish round
        .load()
        .groupBy(col("event_type")).count()
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(sink)
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "typed_events")
        Seq("view", "purchase", "view", "click", "purchase")
          .foreach(m => conn.publish("typed_events", m.getBytes))
        q.processAllAvailable()
        Seq("view", "view", "purchase", "click", "view")
          .foreach(m => conn.publish("typed_events", m.getBytes))
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      // key.* / value.* + positional rename: the agg buffer's internal
      // field naming ("count(1)") is a Spark implementation detail.
      s.read.format("statestore").load(ckpt)
        .select(expr("key.*"), expr("value.*"))
        .toDF("event_type", "n")
        .orderBy(col("event_type"))
    },

    // LEFT OUTER stream-stream join — q61's inner join exercises the
    // match path only; the outer variant adds the eviction semantics: an
    // unmatched left row may emit its null-padded result ONLY once the
    // watermark proves no matching right row can still arrive (vts
    // outside the join's time bound on both inputs). Views 3/4 have no
    // click; the second publish round (the matched id-5 pair at 13:00)
    // advances BOTH watermarks past 10:00 + 1 h, and Spark's no-data
    // batch then flushes the two null rows from state. At 100 TB this is
    // the funnel/attribution join: state per side is bounded by the
    // watermark horizon, keyed and shuffled on the join key only.
    QueryDef.noBench(
      "q119_stream_outer_join",
      """SELECT * FROM (VALUES
        |  (1, 'apple', 10), (2, 'banana', 20), (3, 'orange', CAST(NULL AS INTEGER)),
        |  (4, 'pear', CAST(NULL AS INTEGER)), (5, 'eve', 50)) AS t(id, name, amount)
        |ORDER BY id""".stripMargin) { (s, _) =>
      val url = s"memory://q119-${UUID.randomUUID()}"
      val sink = s"nats_ssoj_sink_${sinkId.incrementAndGet()}"
      val conn = NatsTransport.connect(url)
      val viewSchema = StructType(Seq(
        StructField("vts", TimestampType, nullable = false),
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false)))
      val clickSchema = StructType(Seq(
        StructField("cts", TimestampType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("amount", IntegerType, nullable = false)))
      def src(subject: String, schema: StructType) =
        s.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", subject)
          .option("batchSize", "1").load() // one batch per publish: each
          // round's watermark advance lands before the next round
      val views = src("views", viewSchema).withWatermark("vts", "10 minutes")
      val clicks = src("clicks", clickSchema).withWatermark("cts", "10 minutes")
      val q = views.join(clicks,
          col("id") === col("cid") &&
            col("cts") >= col("vts") && col("cts") <= col("vts") + expr("interval 1 hour"),
          "left_outer")
        .select(col("id"), col("name"), col("amount"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "views")
        NatsDemo.awaitSubscriber(url, "clicks")
        Seq("2024-01-01 10:00:00,1,apple", "2024-01-01 10:00:01,2,banana",
          "2024-01-01 10:00:02,3,orange", "2024-01-01 10:00:03,4,pear")
          .foreach(m => conn.publish("views", m.getBytes))
        Seq("2024-01-01 10:05:00,1,10", "2024-01-01 10:05:01,2,20")
          .foreach(m => conn.publish("clicks", m.getBytes))
        q.processAllAvailable()
        // Round 2: a matched pair far in the future moves min(watermarks)
        // past every round-1 row's join horizon -> outer rows flush.
        conn.publish("views", "2024-01-01 13:00:00,5,eve".getBytes)
        conn.publish("clicks", "2024-01-01 13:00:01,5,50".getBytes)
        q.processAllAvailable()
      } finally {
        q.stop()
        conn.close()
      }
      s.sql(s"SELECT id, name, amount FROM $sink ORDER BY id")
    },

    // Idempotent sink: the same micro-batch written TWICE — the task-retry
    // shape under at-least-once — lands in retention exactly once, because
    // each row publishes with its msgIdColumn value as the `Nats-Msg-Id`
    // header and stream ingest dedups on it (docs.nats.io message
    // deduplication; the memory bus and MiniNatsServer implement the same
    // count-bounded window). The replay read-back sees 3 rows, not 6. The
    // id column is identity metadata: excluded from the payload, so the
    // read schema is the plain (id, name) the canonical oracle expects.
    QueryDef.noBench("q120_idempotent_sink", canonicalOracle) { (s, _) =>
      import s.implicits._
      val url = s"memory://q120-${UUID.randomUUID()}"
      val subj = "idem_sink"
      val df = Seq((1, "apple", "m1"), (2, "banana", "m2"), (3, "orange", "m3"))
        .toDF("id", "name", "mid")
      def writeOnce(): Unit = df.write.format("nats").mode("append")
        .option("url", url).option("subject", subj)
        .option("msgIdColumn", "mid").save()
      writeOnce()
      writeOnce() // the "retry": same rows, same message ids
      s.read.format("nats").schema(rowSchema)
        .option("url", url).option("subject", subj)
        .option("replay", "true").option("startSequence", "0")
        .load()
        .orderBy("id")
    },

    // ---- q160 (round 14): content-based ROUTING through the sink — the
    // NATS subject-hierarchy idiom (one subject per partition key, e.g.
    // docs.en / docs.de, consumers pick their slice with a wildcard).
    // `subjectColumn` makes the target subject a per-row STRING column
    // (routing metadata, excluded from the payload like msgIdColumn);
    // here the whole documents table fans out to docs.<lang> and ONE
    // wildcard consumer (docs.*) reads it all back with the `_subject`
    // envelope column proving where each row landed. The oracle computes
    // the same per-subject census straight from the parquet, so mis-
    // routed/dropped/duplicated rows hash-fail (sum_ids pins membership,
    // not just counts). 100 TB shape: routing is writer-local (each
    // task batches per target subject, one pipelined publish run per
    // subject per flush); the subject space is the partition-key
    // dictionary, consumers scale by subscribing sub-trees. ----
    QueryDef.noBench(
      "q160_subject_routing",
      """SELECT 'docs.' || lang AS subject, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY subject""".stripMargin) { (s, dir) =>
      val url = s"memory://q160-${UUID.randomUUID()}"
      val sink = s"nats_route_sink_${sinkId.incrementAndGet()}"
      // doc_id rides as Int32: the codecs carry the reference's payload
      // type set (reference src/codec/csv.rs:48-198 — no int64 column)
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("lang", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs.*")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .option("includeMetadata", "true")
        .load()
        .select(col("doc_id"), col("_subject").as("subject"))
        .writeStream.format("memory").queryName(sink).start()
      try {
        NatsDemo.awaitSubscriber(url, "docs.en")
        val nDocs = graft.Tables.load(s, dir, "documents").count()
        graft.Tables.load(s, dir, "documents")
          .select(col("doc_id").cast(IntegerType).as("doc_id"), col("lang"),
            concat(lit("docs."), col("lang")).as("subj"))
          .write.format("nats").mode("append")
          .option("url", url).option("subject", "docs.unrouted")
          .option("subjectColumn", "subj").save()
        // Drain until the sink holds every published row: the first pass
        // takes every FULL batch, but a trailing partial batch only
        // becomes an available offset after flushTimeoutMs — so poll the
        // sink count to the known total with a deadline instead of a
        // fixed sleep (ADVICE r14: a sleep races the flush on a loaded
        // machine). save() has returned — every row is in the ledger.
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (s.table(sink).count() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(s.table(sink).count() == nDocs,
          s"q160 drain timed out: sink has ${s.table(sink).count()} of $nDocs rows")
      } finally q.stop()
      s.sql(s"""SELECT subject, COUNT(*) AS n_docs,
        CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        FROM $sink GROUP BY subject ORDER BY subject""")
    },

    // ---- q179 (round 15): TOKENIZE-AT-INGEST — the q154 ingest-loop
    // pattern applied to the tokenizer artifact: the documents table
    // streams through the bus (JSON codec — text payloads), and each
    // micro-batch is tokenized in foreachBatch against the STORED BPE
    // vocab (probe for known words, the q177 distinct-OOV merge-fold
    // fallback for words the cache has never seen — on a live crawl
    // that path is hot), appending per-doc token counts downstream.
    // The ORACLE is the real generated 24-round chain aggregated per
    // language — so a tokenization drift, a dropped micro-batch, or a
    // double-processed doc all hash-fail, not just row counts. 100 TB
    // shape: the model rides the shared catalog (broadcast-sized merge
    // list + bucketed vocab read per batch); per-batch cost tracks the
    // BATCH (one probe join + a batch-local OOV fold), the corpus is
    // never rescanned — the production "tokens land with the data"
    // ingest contract. ----
    QueryDef.noBench("q179_tokenize_at_ingest", bpeIngestOracle) { (s, dir) =>
      val (mTbl, vTbl) = PipelineTokenizer.ensureBpeModel(s, dir)
      val url = s"memory://q179-${UUID.randomUUID()}"
      val outDir = java.nio.file.Files.createTempDirectory("graft-tok-ingest").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("lang", StringType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs_tok")
        .option("codec", "json")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val sess = batch.sparkSession
          val b = batch.persist()
          try {
            val words = b
              .select(col("doc_id"), col("lang"),
                explode(PipelineTokenizer.bpeWordsCol).as("w"))
              .filter(length(col("w")) > 0)
            val known = sess.table(vTbl)
              .select(col("w"), size(col("toks")).as("n_tok"))
            val mergesArr = sess.table(mTbl)
              .agg(sort_array(collect_list(struct(col("rank"), col("l"), col("r"))))
                .as("ms"))
              .select(lit(1).as("k"), col("ms"))
            val oov = words.select(col("w")).distinct()
              .join(known.select(col("w")), Seq("w"), "left_anti")
              .withColumn("syms", split(col("w"), ""))
              .withColumn("k", lit(1))
              .join(broadcast(mergesArr), Seq("k"), "left")
              .select(col("w"), size(expr(PipelineTokenizer.bpeApplySql)).as("n_tok"))
            words.join(known.unionByName(oov), Seq("w"))
              .groupBy(col("doc_id"), col("lang"))
              .agg(count(lit(1)).as("n_words"),
                sum(col("n_tok")).cast(LongType).as("n_tokens_bpe"))
              .write.mode("append").parquet(outDir)
          } finally b.unpersist()
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "docs_tok")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id").cast(IntegerType).as("doc_id"),
            col("lang"), col("text"))
        // expected = docs contributing at least one word (null/empty-text
        // rows never emit a per-doc count row and must not be waited for)
        val nDocs = pub
          .select(col("doc_id"), explode(PipelineTokenizer.bpeWordsCol).as("w"))
          .filter(length(col("w")) > 0)
          .select(col("doc_id")).distinct().count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "docs_tok")
          .option("codec", "json").save()
        // q160's drain rule: poll the accumulated output to the known
        // doc count with a deadline (the trailing partial batch only
        // becomes an offset after flushTimeoutMs).
        def done(): Long =
          try s.read.parquet(outDir).count() catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nDocs,
          s"q179 drain timed out: ${done()} of $nDocs docs tokenized")
      } finally q.stop()
      s.read.parquet(outDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast(LongType).as("n_words"),
          sum(col("n_tokens_bpe")).cast(LongType).as("n_tokens_bpe"))
        .orderBy(col("lang"))
    },

    // ---- q187 (round 15): MANIFEST MAINTENANCE AT INGEST — q182
    // builds the shard-export manifest as a batch job; a live ingest
    // keeps it CURRENT without rescanning the corpus: each micro-batch
    // appends a tiny per-shard DELTA row set (the Iceberg/Delta
    // manifest-log convention — append deltas, compact on read), and
    // the standing manifest is the merge-on-read aggregate over the
    // log. Counts are additive; membership rides an ORDER-FREE
    // additive checksum Σ (h mod 2^16)·(doc_id mod 2^16) (each term
    // < 2^32, so even 10^9 docs stay under int64 — the overflow bound
    // is the design), so a dropped doc, a double-processed batch, or a
    // reassigned shard breaks the final equality against the ORACLE
    // computed batch-side from the same table. 100 TB shape: per-batch
    // cost tracks the BATCH (scan + one 16-row append); the corpus is
    // never rescanned; compaction folds #batches × 16 tiny rows. ----
    QueryDef.noBench("q187_manifest_at_ingest", manifestIngestOracle) { (s, dir) =>
      val url = s"memory://q187-${UUID.randomUUID()}"
      val deltaDir = java.nio.file.Files.createTempDirectory("graft-manifest-log").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs_manifest")
        .option("codec", "json")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType)
          batch
            .select(col("doc_id"), col("text"), h.as("h"))
            .select(pmod(col("h"), lit(16L)).as("shard"),
              size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"),
              length(col("text")).cast(LongType).as("n_chr"),
              ((col("h") % 65536) * (col("doc_id") % 65536)).as("cs"))
            .groupBy(col("shard"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_tok")).cast(LongType).as("n_tokens"),
              sum(col("n_chr")).cast(LongType).as("n_chars"),
              sum(col("cs")).cast(LongType).as("checksum"))
            .write.mode("append").parquet(deltaDir)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "docs_manifest")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id").cast(IntegerType).as("doc_id"), col("text"))
        val nDocs = pub.count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "docs_manifest")
          .option("codec", "json").save()
        // q160/q179 drain rule: poll the manifest log's doc total to the
        // known count with a deadline.
        // (first() on a 1-row aggregate of the tiny manifest log — the
        // harness's drain poll, not operator data flow)
        def done(): Long =
          try s.read.parquet(deltaDir).agg(sum(col("n_docs"))).first().getLong(0)
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nDocs,
          s"q187 drain timed out: ${done()} of $nDocs docs in the manifest log")
      } finally q.stop()
      // Merge-on-read compaction: the standing manifest is the additive
      // fold of the delta log.
      s.read.parquet(deltaDir)
        .groupBy(col("shard"))
        .agg(sum(col("n_docs")).cast(LongType).as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("n_tokens"),
          sum(col("n_chars")).cast(LongType).as("n_chars"),
          sum(col("checksum")).cast(LongType).as("checksum"))
        .orderBy(col("shard"))
    },

    // ---- q190 (round 15): PII REDACTION AT INGEST — the governance
    // rewrite (q181) moved to where production actually runs it: ahead
    // of the first write, so raw PII never lands in the lake. The feed
    // carries q181's injected corpus (the SHARED injection helper —
    // feed and oracle cannot drift); each micro-batch counts and
    // redacts with the same scan-local regexp chain and appends
    // per-doc results; the final per-language rollup pins every
    // redacted BYTE via an order-free additive checksum over the
    // per-doc redaction digests (h60(md5) mod 1e9+7, summed) — a
    // missed match, a dropped doc, or a double-processed batch breaks
    // the equality against the batch-side oracle. 100 TB shape:
    // per-batch cost tracks the batch (three codegen regexp passes per
    // row, zero joins); the corpus is never rescanned. ----
    QueryDef.noBench("q190_redact_at_ingest", redactIngestOracle) { (s, dir) =>
      val url = s"memory://q190-${UUID.randomUUID()}"
      val outDir = java.nio.file.Files.createTempDirectory("graft-redact-ingest").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("lang", StringType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs_pii")
        .option("codec", "json")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch
            .select(col("doc_id"), col("lang"),
              regexp_count(col("text"), lit(Curation.EmailPat)).cast(LongType).as("n_email"),
              regexp_count(col("text"), lit(Curation.SsnPat)).cast(LongType).as("n_ssn"),
              regexp_count(col("text"), lit(Curation.PhonePat)).cast(LongType).as("n_phone"),
              md5(Curation.redactPii(col("text"))).as("rm"))
            .write.mode("append").parquet(outDir)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "docs_pii")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id").cast(IntegerType).as("doc_id"), col("lang"),
            Curation.piiInjectedText.as("text"))
        val nDocs = pub.count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "docs_pii")
          .option("codec", "json").save()
        def done(): Long =
          try s.read.parquet(outDir).count() catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nDocs,
          s"q190 drain timed out: ${done()} of $nDocs docs redacted")
      } finally q.stop()
      s.read.parquet(outDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).cast(LongType).as("n_email"),
          sum(col("n_ssn")).cast(LongType).as("n_ssn"),
          sum(col("n_phone")).cast(LongType).as("n_phone"),
          sum(pmod(conv(substring(col("rm"), 1, 15), 16, 10).cast(LongType),
            lit(1000000007L))).cast(LongType).as("content_checksum"))
        .orderBy(col("lang"))
    },

    // ---- q191 (round 15): TOMBSTONE DELETES AT INGEST — q161 audits
    // deletion propagation batch-side; production right-to-be-forgotten
    // arrives as a STREAM of tombstones, and the lake answers with
    // merge-on-read position deletes (the Iceberg/Delta convention:
    // append doc_id tombstones to a delete log, serve corpus ⟕̸ log,
    // compact later — never a synchronous corpus rewrite per request):
    // each micro-batch appends its tombstone rows; the final SERVING
    // view anti-joins the standing corpus against the accumulated log
    // and pins the surviving SET per language (counts, surviving
    // tokens, and the order-free additive membership checksum), so a
    // lost tombstone, a double-delete, or an over-delete breaks the
    // equality against the batch-side oracle (deletion cohort:
    // doc_id mod 7 = 3). 100 TB shape: per-batch cost is the tombstone
    // append (rows ~ deletion requests, not corpus); the serving
    // anti-join broadcasts the delete log (requests are always tiny
    // relative to the lake) — exactly the Iceberg position-delete read
    // path. ----
    QueryDef.noBench("q191_delete_at_ingest", deleteIngestOracle) { (s, dir) =>
      val url = s"memory://q191-${UUID.randomUUID()}"
      val tombDir = java.nio.file.Files.createTempDirectory("graft-tombstones").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "doc_tombstones")
        .option("batchSize", "20")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch.select(col("doc_id")).write.mode("append").parquet(tombDir)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "doc_tombstones")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") % 7 === 3)
          .select(col("doc_id").cast(IntegerType).as("doc_id"))
        val nTombs = pub.count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "doc_tombstones").save()
        def done(): Long =
          try s.read.parquet(tombDir).count() catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nTombs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nTombs,
          s"q191 drain timed out: ${done()} of $nTombs tombstones logged")
      } finally q.stop()
      val corpus = graft.Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(split(lower(col("text")), " ")).cast(LongType).as("n_tok"))
      val tombs = s.read.parquet(tombDir)
        .select(col("doc_id").cast(org.apache.spark.sql.types.LongType).as("doc_id"))
        .distinct()
      val serving = corpus.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      val servStats = serving.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_serving"),
          sum(col("n_tok")).cast(LongType).as("n_serving_tokens"),
          sum(pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
            .cast(LongType), lit(1000000007L))).cast(LongType).as("serving_checksum"))
      corpus.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
        .join(servStats, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          (col("n_total") - coalesce(col("n_serving"), lit(0L))).as("n_deleted"),
          coalesce(col("n_serving"), lit(0L)).as("n_serving"),
          coalesce(col("n_serving_tokens"), lit(0L)).as("n_serving_tokens"),
          coalesce(col("serving_checksum"), lit(0L)).as("serving_checksum"))
        .orderBy(col("lang"))
    },

    // ---- q207 (round 16): DISTRIBUTION DRIFT AT INGEST — q206's
    // release gate moved to where production actually watches it: the
    // live feed. A STATIC GLOBAL reference model (the doc_id%20
    // benchmark split's 1024-bucket hashed-unigram counts — q155's
    // convention; GLOBAL because the fixture assigns source =
    // src(doc_id % 20), so a per-source %20 reference would be
    // vacuous — and because "which incoming source drifts from the
    // reference corpus" is the production question anyway) stands
    // still while each micro-batch of the incoming corpus appends its
    // own (source, bucket) counts to a delta log — counts are
    // ADDITIVE, so the standing monitor (fold the log, score each
    // source against the reference with q206's once-rounded
    // integer-micro log-ratio) is EXACTLY the batch computation, and
    // the oracle recomputes it from the table: at-least-once
    // reprocessing, a dropped batch, or a drifting bucket rule all
    // break the hash. 100 TB shape: per-batch cost tracks the batch
    // (scan-local hashing, one (source, b) partial agg — no corpus
    // rescan ever); the reference is a ≤1024-row dictionary, the
    // incoming model (#sources × 1024) rows; totals ride #sources-row
    // / 1-row broadcasts. ----
    QueryDef.noBench("q207_drift_at_ingest", driftIngestOracle) { (s, dir) =>
      val url = s"memory://q207-${UUID.randomUUID()}"
      val deltaDir = java.nio.file.Files.createTempDirectory("graft-drift-log").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("source", StringType, nullable = false),
        StructField("text", StringType, nullable = false)))
      def bucketsOf(df: DataFrame, cn: String): DataFrame = df
        .select(col("source"),
          explode(Pipeline.wordFeatColOn(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("source"),
          pmod(conv(substring(md5(col("w")), 1, 15), 16, 10)
            .cast(org.apache.spark.sql.types.LongType), lit(1024L)).as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as(cn))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs_drift")
        .option("codec", "json")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          bucketsOf(batch.toDF(), "c")
            .write.mode("append").parquet(deltaDir)
        }
        .start()
      val pub = graft.Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull && col("doc_id") % 20 =!= 0)
        .select(col("doc_id").cast(IntegerType).as("doc_id"),
          col("source"), col("text"))
      try {
        NatsDemo.awaitSubscriber(url, "docs_drift")
        // expected token total, known before publish — the drain target
        val expTokens = pub
          .select(explode(Pipeline.wordFeatColOn(col("text"))).as("w"))
          .filter(length(col("w")) > 0).count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "docs_drift")
          .option("codec", "json").save()
        // (first() on a 1-row aggregate of the tiny delta log — the
        // harness's drain poll, not operator data flow)
        def done(): Long =
          try s.read.parquet(deltaDir).agg(sum(col("c"))).first().getLong(0)
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < expTokens && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == expTokens,
          s"q207 drain timed out: ${done()} of $expTokens tokens in the drift log")
      } finally q.stop()
      // Standing monitor: additive fold of the delta log, each source
      // scored against the GLOBAL reference — q206's arithmetic.
      // (Buckets the incoming side never uses contribute zero to the
      // cin-weighted sum, so the join is a plain LEFT join on b.)
      val cin = s.read.parquet(deltaDir)
        .groupBy(col("source"), col("b"))
        .agg(sum(col("c")).cast(org.apache.spark.sql.types.LongType).as("cin"))
      val tin = cin.groupBy(col("source"))
        .agg(sum(col("cin")).cast(org.apache.spark.sql.types.LongType).as("tin"))
      val ref = bucketsOf(
        graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") % 20 === 0)
          .select(col("source"), col("text")), "c0")
        .groupBy(col("b"))
        .agg(sum(col("c0")).cast(org.apache.spark.sql.types.LongType).as("cref"))
      val tref = ref.agg(sum(col("cref"))
        .cast(org.apache.spark.sql.types.LongType).as("tref"))
      cin.join(ref, Seq("b"), "left")
        .na.fill(0L, Seq("cref"))
        .join(broadcast(tin), Seq("source"))
        .crossJoin(broadcast(tref))
        .select(col("source"), col("tin"), col("tref"), col("cin"),
          expr("cast(round(ln(((cin + 1) * (tref + 1024)) / cast((cref + 1) * (tin + 1024) as double)) " +
            "* 1000000, 0) as bigint)").as("r_micro"))
        .groupBy(col("source"), col("tin"), col("tref"))
        .agg(sum(col("cin") * col("r_micro"))
          .cast(org.apache.spark.sql.types.LongType).as("drift_sum_micro"))
        .select(col("source"), col("tin").as("in_tokens"),
          col("tref").as("ref_tokens"), col("drift_sum_micro"),
          when(col("tin") > 0, expr("drift_sum_micro DIV tin")).otherwise(lit(0L))
            .as("mean_drift_micro"))
        .orderBy(col("source"))
    },

    // ---- q217 (round 16): EXPORT APPEND AT INGEST — q209's
    // append≡rebuild equivalence with the delta arriving as a STREAM
    // (production growth is a feed, not a nightly batch): late docs
    // (the q209 cohort, doc_id % 10 = 7) land over the bus in
    // micro-batches, and each foreachBatch writes ONLY its batch as
    // per-shard delta files next to the untouched base — the Iceberg
    // fast-append shape (one appended layer per commit, base never
    // rewritten or rescanned at write time). The final reconciliation
    // reads base + accumulated deltas (delta rows DISTINCTed — the
    // merge-on-read idempotency rule, so at-least-once delivery cannot
    // corrupt the digest) and pins the merged per-shard membership
    // digest against the full-rebuild manifest via the SAME
    // appendReconcile/oracle pair as q209 — a dropped batch, a
    // double-applied batch, or a mis-sharded append hash-fails. 100 TB
    // shape: per-commit cost tracks the batch; reconciliation is
    // shard-keyed aggregates over the layered read. ----
    QueryDef.noBench("q217_export_append_at_ingest",
        graft.queries.Curation.exportAppendOracle) { (s, dir) =>
      val (baseRoot, _) = graft.queries.Curation.ensureIncrementalExport(s, dir)
      val url = s"memory://q217-${UUID.randomUUID()}"
      val deltaDir =
        java.nio.file.Files.createTempDirectory("graft-export-ingest").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "docs_append")
        .option("codec", "json")
        .option("batchSize", "20")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
            .cast(org.apache.spark.sql.types.LongType)
          batch
            .select(col("doc_id").cast(org.apache.spark.sql.types.LongType)
              .as("doc_id"), col("text"))
            .withColumn("h", h)
            .withColumn("shard",
              (col("h") % graft.queries.Curation.Shards)
                .cast(org.apache.spark.sql.types.LongType))
            .repartition(col("shard"))
            .write.mode("append").partitionBy("shard").parquet(deltaDir)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "docs_append")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") % 10 === 7)
          .select(col("doc_id").cast(IntegerType).as("doc_id"), col("text"))
        val nDocs = pub.count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "docs_append")
          .option("codec", "json").save()
        def done(): Long =
          try s.read.parquet(deltaDir).select(col("doc_id")).distinct().count()
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nDocs,
          s"q217 drain timed out: ${done()} of $nDocs late docs appended")
      } finally q.stop()
      val base = s.read.parquet(baseRoot)
        .select(col("shard").cast(org.apache.spark.sql.types.LongType).as("shard"),
          col("h"), col("doc_id"), lit("base").as("layer"))
      val delta = s.read.parquet(deltaDir)
        .select(col("shard").cast(org.apache.spark.sql.types.LongType).as("shard"),
          col("h"), col("doc_id"))
        .distinct()
        .withColumn("layer", lit("delta"))
      graft.queries.Curation.appendReconcile(s, dir, base.unionByName(delta))
    },

    // ---- q240 (round 18): STREAMING CURATION CAPSTONE (VERDICT r17
    // #3) — the at-ingest operators composed into ONE foreachBatch
    // pass: the (PII-injected) crawl pool streams through the bus and
    // each micro-batch is redacted (q190) → quality-gated (q149's
    // stage-1 rules) → decontaminated against the STORED bench gram
    // table (q149 stage 3 / decontaminateStoredGrams' artifact) →
    // tokenized against the STORED BPE vocab (the q179 probe; words the
    // vocab has never seen — the redaction placeholders — are priced at
    // symbol length, the admission-accounting estimate; exact OOV
    // merge-folding at ingest is q179's own pin) → band-indexed into
    // the SketchStore DELTA (the q111/q154 standing-index structure).
    // Every stage decision is PER-DOC (order-free across micro-batches)
    // except fingerprint dedup, which follows the manifest convention
    // (q187): each batch appends (fp, doc_id, ...) rows to a log and
    // the standing kept-set is the merge-on-read argmin per fp — so the
    // stream's funnel equals the batch recomputation EXACTLY regardless
    // of arrival order, and the oracle recomputes all seven stages from
    // the documents table. 100 TB shape: per-batch cost tracks the
    // batch (scan-local regexp + gate, one broadcast gram probe, one
    // vocab probe join, one bucketed append); the corpus is never
    // rescanned; the final rollup reads the tiny append-only logs. ----
    QueryDef.noBench("q240_curation_at_ingest", curationIngestOracle) { (s, dir) =>
      val (_, vTbl) = PipelineTokenizer.ensureBpeModel(s, dir)
      val gramTbl = Pipeline.ensureBenchGramTable(s, dir)
      val idxTbl = SketchStore.resetBandsDelta(s, dir)
      val url = s"memory://q240-${UUID.randomUUID()}"
      val poolLog = java.nio.file.Files.createTempDirectory("graft-cur-pool").toString
      val keptLog = java.nio.file.Files.createTempDirectory("graft-cur-kept").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", IntegerType, nullable = false),
        StructField("lang", StringType, nullable = false),
        StructField("text", StringType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "crawl_pool")
        .option("codec", "json")
        .option("batchSize", "200")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val sess = batch.sparkSession
          // stage 1: redact — raw PII never lands in any log
          val red = batch
            .select(col("doc_id"), col("lang"),
              (regexp_count(col("text"), lit(Curation.EmailPat)) +
                regexp_count(col("text"), lit(Curation.SsnPat)) +
                regexp_count(col("text"), lit(Curation.PhonePat)))
                .cast(LongType).as("n_red"),
              Curation.redactPii(col("text")).as("t"))
            .withColumn("ws", split(lower(col("t")), " "))
            .withColumn("n_tok", size(col("ws")).cast(LongType))
            .persist()
          try {
            red.select(col("doc_id"), col("lang"), col("n_tok"), col("n_red"))
              .write.mode("append").parquet(poolLog)
            // stage 2: quality gate (q149's stage-1 rules on redacted text)
            val gated = red
              .withColumn("mtl",
                (length(col("t")) - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
              .withColumn("n_stop",
                size(filter(col("ws"), w => w === "the" || w === "a" || w === "of")))
              .withColumn("dr",
                size(array_distinct(col("ws"))).cast(DoubleType) / col("n_tok"))
              .filter(col("n_tok").between(10, 1000) &&
                col("mtl") >= 2 && col("mtl") <= 12 &&
                col("n_stop") >= 1 && col("dr") >= 0.3)
            // stage 3: decontaminate against the STORED bench gram table
            // (bounded by the benchmark suite size — q149's broadcast)
            val grams = sess.table(gramTbl)
            val contaminated = gated
              .select(col("doc_id"), col("lang"),
                explode(expr("graft_shingle_hashes(t)")).as("g"))
              .join(broadcast(grams), Seq("lang", "g"), "left_semi")
              .select(col("doc_id")).distinct()
            val clean = gated.join(contaminated, Seq("doc_id"), "left_anti").persist()
            try {
              // stage 5 accounting: vocab probe (stored artifact); OOV
              // (redaction placeholders) priced at symbol length
              val words = clean
                .select(col("doc_id"), explode(col("ws")).as("w"))
                .filter(length(col("w")) > 0)
              val known = sess.table(vTbl)
                .select(col("w"), size(col("toks")).cast(LongType).as("n_bpe_w"))
              val perDoc = words
                .join(known, Seq("w"), "left")
                .withColumn("n_bpe_w",
                  coalesce(col("n_bpe_w"), length(col("w")).cast(LongType)))
                .groupBy(col("doc_id"))
                .agg(sum(col("n_bpe_w")).cast(LongType).as("n_bpe"))
              clean
                .withColumn("fp", md5(substring(
                  regexp_replace(lower(col("t")), "\\s+", " "), 1, 64)))
                .join(perDoc, Seq("doc_id"), "left")
                .select(col("doc_id"), col("lang"), col("fp"), col("n_tok"),
                  coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
                .write.mode("append").parquet(keptLog)
              // stage 6: band-index the decontaminated docs into the
              // SketchStore delta (the q111/q154 standing structure)
              SketchStore.appendBandsDelta(
                SketchStore.bandRowsOf(clean.select(col("doc_id"), col("lang"), col("t").as("text"))),
                idxTbl)
            } finally clean.unpersist()
          } finally red.unpersist()
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "crawl_pool")
        val pub = graft.Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull && col("doc_id") % 20 =!= 0)
          .select(col("doc_id").cast(IntegerType).as("doc_id"), col("lang"),
            Curation.piiInjectedText.as("text"))
        val nDocs = pub.count()
        pub.write.format("nats").mode("append")
          .option("url", url).option("subject", "crawl_pool")
          .option("codec", "json").save()
        def done(): Long =
          try s.read.parquet(poolLog).count() catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (done() < nDocs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(done() == nDocs,
          s"q240 drain timed out: ${done()} of $nDocs docs through the funnel")
      } finally q.stop()
      // Merge-on-read rollup over the append-only logs — the standing
      // funnel. Fingerprint dedup = argmin per fp (order-free).
      val pool = s.read.parquet(poolLog)
      val kept = s.read.parquet(keptLog)
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val deduped = kept.withColumn("rn", row_number().over(wFp))
        .filter(col("rn") === 1)
      def stage(name: String, df: DataFrame, units: Column): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(units), lit(0L)).cast(LongType).as("n_units"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_units"))
      val gatedDocs = s.read.parquet(keptLog) // kept log rows = decontaminated gate survivors
      stage("0_pool", pool, col("n_tok"))
        .unionByName(stage("1_redacted", pool.filter(col("n_red") > 0), col("n_red")))
        .unionByName(stage("2_decontaminated", gatedDocs, col("n_tok")))
        .unionByName(stage("3_fingerprint_dedup", deduped, col("n_tok")))
        .unionByName(stage("4_tokenized", deduped, col("n_bpe")))
        .unionByName(
          s.table(idxTbl).agg(countDistinct(col("doc_id")).as("n_docs"),
              count(lit(1)).cast(LongType).as("n_units"))
            .select(lit("5_indexed").as("stage"), col("n_docs"), col("n_units")))
        .orderBy(col("stage"))
    },

    // ---- q246 (round 19): GRAPH-INDEX MAINTENANCE AT INGEST — q244's
    // incremental absorb running inside the stream loop, completing the
    // at-ingest set (bands q111/q154, manifest q187, drift q207,
    // exports q217, curation q240, and now the ANN graph). New vectors
    // arrive as bus events carrying their vec_id (the production shape:
    // events point into the vector store; payloads don't ship 64-dim
    // arrays), and each micro-batch runs the SHARED maintenance kernel
    // (PipelineRetrieval.graphMaintainEdges — capped stored-bucket
    // probe + one hop through the stored base graph + top-G cut) and
    // appends its edges to a graph DELTA log. Arrival-order-free by
    // construction: each vec_id is absorbed exactly once, candidates
    // come from STANDING artifacts (not from batch peers), and the
    // per-node top-G cut is local to the node — so the union of
    // per-batch absorbs EQUALS the one-shot batch absorb regardless of
    // batching, and the entry grades its delta with q244's own eval and
    // ORACLE, verbatim (the q209/q217 convention: stream-maintained
    // index == batch absorb, hash-proven). 100 TB shape: per-batch cost
    // tracks the batch (capped probes), the corpus is never rescanned,
    // and the delta log is bucketable exactly like the base graph. ----
    QueryDef.noBench("q246_graph_absorb_at_ingest",
      PipelineRetrieval.graphMaintainOracleShared) { (s, dir) =>
      val url = s"memory://q246-${UUID.randomUUID()}"
      val deltaLog = java.nio.file.Files.createTempDirectory("graft-graph-delta").toString
      // Warm the standing artifacts up front (base graph + buckets) so
      // the stream loop only probes — the q154 convention.
      graft.queries.SketchStore.nnGraphBase(s, dir)
      graft.queries.SketchStore.lshBuckets(s, dir)
      val isNew = col("vec_id") % PipelineRetrieval.NNDESC_NEW_MOD ===
        PipelineRetrieval.NNDESC_NEW_REM
      // The strict payload codec is Int32/Float64/Utf8/Bool (reference
      // parity, §1.2) — ids ship as int32 and widen back on arrival.
      val cohort = Tables.load(s, dir, "embeddings")
        .filter(isNew).select(col("vec_id").cast(IntegerType).as("vec_id"))
      val nNew = cohort.count()
      val feedSchema = StructType(Seq(
        StructField("vec_id", IntegerType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "crawl_vectors")
        .option("batchSize", "32")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val sess = batch.sparkSession
          val ids = batch.select(col("vec_id").cast(LongType).as("vec_id")).distinct()
          PipelineRetrieval.graphMaintainEdges(sess, dir, ids)
            .write.mode("append").parquet(deltaLog)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "crawl_vectors")
        // Two publish rounds (distributed, through the NATS sink — the
        // q240 shape) prove multi-batch absorb equals the batch pass:
        // the eval cannot tell which batch indexed a node. The cohort
        // (% 10 = 3) splits exactly into the % 20 = 3 and % 20 = 13
        // halves.
        def pub(half: DataFrame): Unit =
          half.write.format("nats").mode("append")
            .option("url", url).option("subject", "crawl_vectors").save()
        pub(cohort.filter(col("vec_id") % 20 === 3))
        q.processAllAvailable()
        pub(cohort.filter(col("vec_id") % 20 === 13))
        def indexed(): Long =
          try s.read.parquet(deltaLog).select(col("u")).distinct().count()
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        // A trailing partial batch becomes an available offset only
        // after flushTimeoutMs — drain until every cohort node is
        // absorbed (the q160/q240 drain rule).
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (indexed() < nNew && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(indexed() == nNew,
          s"q246 drain timed out: ${indexed()} of $nNew vectors absorbed")
      } finally q.stop()
      // distinct(): foreachBatch is at-least-once on task/batch retry —
      // a replayed micro-batch appends duplicate (u, w, cos_r) rows that
      // would consume row_number rank slots in the eval (ADVICE r19).
      // Edges are unique per (u, w) by construction (the per-node top-G
      // cut), so distinct is exactly the replay-idempotent read — the
      // q254 tombstone-log convention.
      PipelineRetrieval.graphMaintainStats(s, dir,
        s.read.parquet(deltaLog).distinct().persist())
    },

    // ---- q254 (round 19): DELETION PROPAGATION AT INGEST — q247's
    // right-to-be-forgotten semantics driven by the bus: deletion
    // REQUESTS arrive as events (kind ∈ {doc, vec} + the id — the GDPR
    // ticket-queue shape), each micro-batch appends them to a tombstone
    // LOG, and the standing artifacts are reconciled merge-on-read
    // against the accumulated log. Tombstone accumulation is a set
    // union — arrival-order-free and idempotent by construction (the
    // log is DISTINCT-ed at read) — so once the queue drains, the
    // reconciliation row EQUALS q247's batch computation exactly and
    // the entry shares q247's oracle verbatim (the q209/q217/q246 twin
    // convention). 100 TB shape: per-batch cost is one tiny append; the
    // anti-join probes are q247's, keyed on the artifacts' own bucket
    // columns; the log is request-sized. ----
    QueryDef.noBench("q254_delete_at_ingest_sketch",
      Analytics.sketchDeleteOracleShared) { (s, dir) =>
      val url = s"memory://q254-${UUID.randomUUID()}"
      val tombLog = java.nio.file.Files.createTempDirectory("graft-tomb-log").toString
      // The deletion cohort ships as (kind, id) int32 events through
      // the strict codec; two publish rounds = two request batches.
      val reqs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % Analytics.DelMod === Analytics.DelRem)
        .select(lit("doc").as("kind"), col("doc_id").cast(IntegerType).as("id"))
        .unionByName(Tables.load(s, dir, "embeddings")
          .filter(col("vec_id") % Analytics.DelMod === Analytics.DelRem)
          .select(lit("vec").as("kind"), col("vec_id").cast(IntegerType).as("id")))
      val nReqs = reqs.count()
      val feedSchema = StructType(Seq(
        StructField("kind", StringType, nullable = false),
        StructField("id", IntegerType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "delete_requests")
        .option("batchSize", "32")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch.select(col("kind"), col("id").cast(LongType).as("id"))
            .write.mode("append").parquet(tombLog)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "delete_requests")
        def pub(half: DataFrame): Unit =
          half.write.format("nats").mode("append")
            .option("url", url).option("subject", "delete_requests").save()
        // % 17 = 5 splits into the % 34 ∈ {5, 22} halves.
        pub(reqs.filter(col("id") % 34 === 5))
        q.processAllAvailable()
        pub(reqs.filter(col("id") % 34 === 22))
        def logged(): Long =
          try s.read.parquet(tombLog).distinct().count()
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (logged() < nReqs && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(logged() == nReqs,
          s"q254 drain timed out: ${logged()} of $nReqs deletion requests logged")
      } finally q.stop()
      val log = s.read.parquet(tombLog).distinct().persist()
      Analytics.sketchDeleteStats(s, dir,
        log.filter(col("kind") === "doc").select(col("id").as("doc_id")),
        log.filter(col("kind") === "vec").select(col("id").as("vec_id")))
    },

    // ---- q257 (round 20): IVFPQ ENCODE AT INGEST — the q246 twin
    // convention applied to the stored IVF+PQ index (VERDICT r19 next
    // #4): new vectors arrive as bus events carrying their vec_id, and
    // each micro-batch runs the SHARED encode kernel
    // (PipelineRetrieval.ivfpqEncode — route to the argmax cell,
    // subtract the centroid, argmin over the residual codebook) and
    // appends (vec_id, cell, m, code) rows to the index delta log (the
    // bandsdelta convention: same schema as the stored base artifact,
    // foldable by the q248-style compaction). Arrival-order-free and
    // batch-split-free by construction: encoding needs ONLY the two
    // broadcast dictionaries (centroids + codebook) — no standing-index
    // probe, no batch-peer interaction — so the union of per-batch
    // encodes EQUALS the one-shot batch encode exactly, and the entry's
    // output is the cohort's FULL code table graded row-for-row against
    // the oracle's recomputation from raw embeddings. 100 TB shape:
    // per-batch cost is |batch| x NCELLS routing dots + |batch| x PQ_M
    // x PQ_K codebook distances, all scan-local against kilobyte
    // broadcasts; the corpus is never rescanned. ----
    QueryDef.noBench("q257_ivfpq_encode_at_ingest",
      PipelineRetrieval.ivfpqIngestOracle) { (s, dir) =>
      val url = s"memory://q257-${UUID.randomUUID()}"
      val deltaLog = java.nio.file.Files.createTempDirectory("graft-ivfpq-delta").toString
      val isNew = col("vec_id") % PipelineRetrieval.NNDESC_NEW_MOD ===
        PipelineRetrieval.NNDESC_NEW_REM
      val cohort = Tables.load(s, dir, "embeddings")
        .filter(isNew).select(col("vec_id").cast(IntegerType).as("vec_id"))
      val nNew = cohort.count()
      val feedSchema = StructType(Seq(
        StructField("vec_id", IntegerType, nullable = false)))
      val q = s.readStream.format("nats").schema(feedSchema)
        .option("url", url).option("subject", "crawl_vectors_pq")
        .option("batchSize", "32")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          val sess = batch.sparkSession
          val vs = batch.select(col("vec_id").cast(LongType).as("vec_id")).distinct()
            .join(Tables.load(sess, dir, "embeddings"), Seq("vec_id"))
            .select(col("vec_id"), col("embedding"))
          PipelineRetrieval.ivfpqEncode(sess, dir, vs)
            .write.mode("append").parquet(deltaLog)
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "crawl_vectors_pq")
        def pub(half: DataFrame): Unit =
          half.write.format("nats").mode("append")
            .option("url", url).option("subject", "crawl_vectors_pq").save()
        // the % 10 = 3 cohort splits into the % 20 ∈ {3, 13} halves —
        // two publish rounds prove multi-batch encode == batch encode
        pub(cohort.filter(col("vec_id") % 20 === 3))
        q.processAllAvailable()
        pub(cohort.filter(col("vec_id") % 20 === 13))
        def encoded(): Long =
          try s.read.parquet(deltaLog).select(col("vec_id")).distinct().count()
          catch { case _: Exception => 0L }
        q.processAllAvailable()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (encoded() < nNew && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.processAllAvailable()
        }
        require(encoded() == nNew,
          s"q257 drain timed out: ${encoded()} of $nNew vectors encoded")
      } finally q.stop()
      // distinct(): at-least-once foreachBatch replay idempotency —
      // code rows are unique per (vec_id, m) by construction.
      s.read.parquet(deltaLog).distinct()
        .select(col("vec_id"), col("cell"), col("m"), col("code"))
        .orderBy(col("vec_id"), col("m"))
    },

    // ---- q261 (round 20): SERVE AT INGEST — request/reply over the
    // bus (VERDICT r19 #5): the index families were all MAINTAINED at
    // ingest (bands q154, graph q246, tombstones q254, IVFPQ q257);
    // nothing yet ANSWERED at ingest. Here retrieval REQUESTS arrive as
    // bus events carrying their qid, each micro-batch selects the
    // arrived qids' rows from the server's STARTUP query panel (all
    // corpus-sized derivations — candidate frame, query panel, entry
    // panel, graph handle — are computed once before serving), walks
    // the q245 beam over the STORED graph artifact (the shared
    // serveBeamPicks kernel — per-qid independent by construction:
    // every window and join partitions on qid, so a subset walk yields
    // the identical per-qid picks as the batch walk, regardless of how
    // requests batch), and PUBLISHES the top-K answers to a reply
    // subject through the NATS sink (the request/reply deployment
    // shape). A second subscriber drains the reply subject into an
    // answers log; once every request is answered, the drained picks
    // are graded by the IDENTICAL truth/accounting as the batch serve
    // and the entry shares q245's oracle VERBATIM (the q209/q217/q246
    // twin convention: stream-served answers == batch serve,
    // hash-proven). 100 TB shape: per-request cost is the q245 serve
    // bound — O(rounds x beam x degree) exact scores against the
    // stored graph, fixed entry panel; the corpus appears only in the
    // grading truth leg, never the serve loop. ----
    QueryDef.noBench("q261_serve_at_ingest",
      PipelineRetrieval.graphServeOracleShared) { (s, dir) =>
      val url = s"memory://q261-${UUID.randomUUID()}"
      val ansLog = java.nio.file.Files.createTempDirectory("graft-serve-ans").toString
      // SERVER STARTUP STATE, derived once and captured by the loop
      // (the q154/q246 warm convention, extended to every corpus-sized
      // derivation): the stored graph handle, the servable candidate
      // frame, the deterministic query panel, and the fixed entry
      // panel. The per-micro-batch work is then the beam walk alone —
      // O(rounds x beam x degree) keyed joins per request; no
      // corpus-linear pass ever runs inside the serve loop.
      val graphP = graft.queries.SketchStore.nnGraph(s, dir)
      val vecsP = PipelineRetrieval.vecsWithNorms(s, dir)
      val panel = PipelineRetrieval.serveQueryPanel(s, dir).persist()
      val entriesP = PipelineRetrieval.serveEntryPanel(vecsP)
        .persist()
      entriesP.count() // materialize the startup panels before serving
      val reqs = panel.select(col("qid").cast(IntegerType).as("qid"))
      val nQ = reqs.count()
      val reqSchema = StructType(Seq(
        StructField("qid", IntegerType, nullable = false)))
      val ansSchema = StructType(Seq(
        StructField("qid", IntegerType, nullable = false),
        StructField("vec_id", IntegerType, nullable = false)))
      // Reply-side subscriber FIRST (fire-and-forget bus: replies
      // published before it subscribes would be lost).
      val sub = s.readStream.format("nats").schema(ansSchema)
        .option("url", url).option("subject", "serve_replies")
        .option("batchSize", "32")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch.write.mode("append").parquet(ansLog)
        }
        .start()
      // The SERVER: per micro-batch, beam-walk the arrived qids over
      // the stored graph and publish the picks to the reply subject.
      // `pubByBatch` records how many pick rows the server actually
      // shipped per micro-batch (keyed by batchId, so an at-least-once
      // replay OVERWRITES its own entry instead of double-counting) —
      // the drain loop waits for exactly that total (round 21, ADVICE
      // r20: the old nQ*k target silently assumed every qid's beam
      // fills all K picks, true only while SERVE_BEAM >= ANN_RECALL_K
      // and the corpus is large enough).
      val pubByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      def published(): Long = {
        var sum = 0L
        pubByBatch.values().forEach(v => sum += v)
        sum
      }
      val srv = s.readStream.format("nats").schema(reqSchema)
        .option("url", url).option("subject", "serve_requests")
        .option("batchSize", "32")
        .option("flushTimeoutMs", "100")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          val got = batch.select(col("qid").cast(LongType).as("qid")).distinct()
          // arrived qids select their rows from the STARTUP panel — the
          // corpus is never rescanned in the loop
          val qp = panel.join(got, Seq("qid"))
          val picks = PipelineRetrieval.serveBeamPicks(
            vecsP, qp, entriesP, graphP,
            PipelineRetrieval.SERVE_BEAM, PipelineRetrieval.SERVE_ROUNDS)
            .select(col("qid").cast(IntegerType).as("qid"),
              col("vec_id").cast(IntegerType).as("vec_id"))
            .persist()
          pubByBatch.put(bid, picks.count())
          picks.write.format("nats").mode("append")
            .option("url", url).option("subject", "serve_replies").save()
          picks.unpersist()
          ()
        }
        .start()
      try {
        NatsDemo.awaitSubscriber(url, "serve_replies")
        NatsDemo.awaitSubscriber(url, "serve_requests")
        def pub(half: DataFrame): Unit =
          half.write.format("nats").mode("append")
            .option("url", url).option("subject", "serve_requests").save()
        // two request batches prove batch-split independence
        pub(reqs.filter(col("qid") % 2 === 1))
        srv.processAllAvailable()
        sub.processAllAvailable()
        pub(reqs.filter(col("qid") % 2 === 0))
        def drained(): (Long, Long) =
          try {
            val a = s.read.parquet(ansLog).distinct()
            (a.count(), a.select(col("qid")).distinct().count())
          } catch { case _: Exception => (0L, 0L) }
        srv.processAllAvailable()
        sub.processAllAvailable()
        // trailing partial batches surface only after flushTimeoutMs on
        // BOTH hops (request and reply) — drain until every request has
        // replied AND every pick the server PUBLISHED is logged (round
        // 21, ADVICE r20: the target is the server's own published
        // count, not an assumed K per request; the deadline scales with
        // the panel and is env-overridable for loaded hosts).
        def complete(): Boolean = {
          val (rows, qids) = drained()
          qids == nQ && rows == published()
        }
        val drainMs = sys.env.get("GRAFT_Q261_DRAIN_MS").map(_.toLong)
          .getOrElse(math.max(120000L, nQ * 4000L))
        val deadline = System.nanoTime() + drainMs * 1000 * 1000
        while (!complete() && System.nanoTime() < deadline) {
          Thread.sleep(50)
          srv.processAllAvailable()
          sub.processAllAvailable()
        }
        require(complete(),
          s"q261 drain timed out after ${drainMs} ms: ${drained()._1} of " +
            s"${published()} published answers logged, ${drained()._2} of " +
            s"$nQ requests replied")
      } finally { srv.stop(); sub.stop() }
      // distinct(): at-least-once foreachBatch replay idempotency on the
      // answers log — picks are unique per (qid, vec_id) by construction.
      val picks = s.read.parquet(ansLog).distinct()
        .select(col("qid").cast(LongType).as("qid"),
          col("vec_id").cast(LongType).as("vec_id"))
      PipelineRetrieval.serveSummaryOverPicks(s, dir, picks)
    }
  )

  /** DuckDB mirror of q240: the ENTIRE composed funnel recomputed
    * batch-side from the documents table — injection (the shared
    * PiiInjectSql), the q190 redaction chain, the q149 quality gate on
    * redacted text, decontamination against the raw benchmark grams,
    * merge-on-read fingerprint argmin, the stored-vocab token pricing
    * (generated 64-round chain; OOV = symbol length), and the 6-band
    * index row accounting. Any dropped micro-batch, double-processed
    * doc, or stage drift hash-fails. */
  private def curationIngestOracle: String =
    "WITH " + PipelineTokenizer.bpeOracleCtesBody(PipelineTokenizer.BpeMerges) +
      s""",
       |wtok AS MATERIALIZED (
       |  SELECT translate(s, '|', '') AS w,
       |    CAST((len(s) - len(replace(s, '|', ''))) / 2 AS BIGINT) AS n_tok
       |  FROM v${PipelineTokenizer.BpeMerges}),
       |raw AS (
       |  SELECT doc_id, lang, ${Curation.PiiInjectSql} AS t0
       |  FROM documents WHERE text IS NOT NULL AND doc_id % 20 <> 0),
       |red AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(t0, '${Curation.EmailPat}'))
       |       + len(regexp_extract_all(t0, '${Curation.SsnPat}'))
       |       + len(regexp_extract_all(t0, '${Curation.PhonePat}')) AS BIGINT) AS n_red,
       |    regexp_replace(regexp_replace(regexp_replace(t0,
       |      '${Curation.EmailPat}', '<EMAIL>', 'g'),
       |      '${Curation.SsnPat}', '<SSN>', 'g'),
       |      '${Curation.PhonePat}', '<PHONE>', 'g') AS t
       |  FROM raw),
       |pool AS MATERIALIZED (
       |  SELECT doc_id, lang, n_red, t, string_split(lower(t), ' ') AS ws,
       |    CAST(len(string_split(lower(t), ' ')) AS BIGINT) AS n_tok
       |  FROM red),
       |keepq AS (
       |  SELECT doc_id, lang, t, ws, n_tok FROM (
       |    SELECT doc_id, lang, t, ws, n_tok,
       |      CAST(len(t) - (n_tok - 1) AS DOUBLE) / n_tok AS mtl,
       |      len(list_filter(ws, x -> x = 'the' OR x = 'a' OR x = 'of')) AS n_stop,
       |      CAST(len(list_distinct(ws)) AS DOUBLE) / n_tok AS dr
       |    FROM pool)
       |  WHERE n_tok BETWEEN 10 AND 1000 AND mtl >= 2 AND mtl <= 12
       |    AND n_stop >= 1 AND dr >= 0.3),
       |bench AS MATERIALIZED (
       |  SELECT DISTINCT lang,
       |    ('0x' || substr(md5(bws[i] || ' ' || bws[i+1] || ' ' || bws[i+2]), 1, 15))::BIGINT AS g
       |  FROM (SELECT lang, string_split(lower(text), ' ') AS bws
       |        FROM documents WHERE text IS NOT NULL AND doc_id % 20 = 0),
       |    unnest(generate_series(1, len(bws) - 2)) AS u(i)
       |  WHERE len(bws) >= 3),
       |contaminated AS (
       |  SELECT DISTINCT cg.doc_id FROM (
       |    SELECT doc_id, lang,
       |      ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15))::BIGINT AS g
       |    FROM keepq, unnest(generate_series(1, len(ws) - 2)) AS u(i)
       |    WHERE len(ws) >= 3) cg
       |  JOIN bench b ON b.lang = cg.lang AND b.g = cg.g),
       |clean AS MATERIALIZED (
       |  SELECT * FROM keepq WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |dedup AS MATERIALIZED (
       |  SELECT doc_id, lang, t, ws, n_tok FROM (
       |    SELECT doc_id, lang, t, ws, n_tok,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY md5(substr(regexp_replace(lower(t), '\\s+', ' ', 'g'), 1, 64))
       |        ORDER BY doc_id) AS rn
       |    FROM clean)
       |  WHERE rn = 1),
       |toks AS (
       |  SELECT uw.doc_id,
       |    CAST(SUM(COALESCE(wt.n_tok, len(uw.w))) AS BIGINT) AS n_bpe
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM dedup) uw
       |  LEFT JOIN wtok wt ON wt.w = uw.w
       |  WHERE len(uw.w) > 0
       |  GROUP BY uw.doc_id)
       |SELECT * FROM (
       |  SELECT '0_pool' AS stage, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_units FROM pool
       |  UNION ALL SELECT '1_redacted', COUNT(*),
       |    CAST(COALESCE(SUM(n_red), 0) AS BIGINT) FROM pool WHERE n_red > 0
       |  UNION ALL SELECT '2_decontaminated', COUNT(*),
       |    CAST(SUM(n_tok) AS BIGINT) FROM clean
       |  UNION ALL SELECT '3_fingerprint_dedup', COUNT(*),
       |    CAST(SUM(n_tok) AS BIGINT) FROM dedup
       |  UNION ALL SELECT '4_tokenized', COUNT(*),
       |    CAST((SELECT SUM(n_bpe) FROM toks) AS BIGINT) FROM dedup
       |  UNION ALL SELECT '5_indexed', COUNT(*),
       |    CAST(6 * COUNT(*) AS BIGINT) FROM clean)
       |ORDER BY stage""".stripMargin

  /** DuckDB mirror of q207: the identical drift arithmetic computed
    * batch-side from the table — the incoming model from the %20 != 0
    * stream, the static reference from the %20 benchmark split. */
  private def driftIngestOracle: String =
    s"""WITH win AS (
       |  SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
       |  FROM (SELECT source, ${Pipeline.wordFeatOracleSql} AS w
       |        FROM documents WHERE text IS NOT NULL AND doc_id % 20 <> 0)
       |  WHERE len(w) > 0),
       |wref AS (
       |  SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS b
       |  FROM (SELECT source, ${Pipeline.wordFeatOracleSql} AS w
       |        FROM documents WHERE text IS NOT NULL AND doc_id % 20 = 0)
       |  WHERE len(w) > 0),
       |ci AS (SELECT source, b, COUNT(*) AS cin FROM win GROUP BY 1, 2),
       |cr AS (SELECT b, COUNT(*) AS cref FROM wref GROUP BY 1),
       |ti AS (SELECT source, CAST(SUM(cin) AS BIGINT) AS tin FROM ci GROUP BY source),
       |tr AS (SELECT CAST(SUM(cref) AS BIGINT) AS tref FROM cr),
       |j AS (
       |  SELECT ci.source, ci.cin, COALESCE(cr.cref, 0) AS cref
       |  FROM ci LEFT JOIN cr USING (b)),
       |r AS (
       |  SELECT j.source, ti.tin, tr.tref, j.cin,
       |    CAST(round(ln(((j.cin + 1) * (tr.tref + 1024))
       |         / CAST((j.cref + 1) * (ti.tin + 1024) AS DOUBLE)) * 1000000, 0)
       |      AS BIGINT) AS r_micro
       |  FROM j JOIN ti USING (source), tr)
       |SELECT source, tin AS in_tokens, tref AS ref_tokens,
       |  CAST(SUM(cin * r_micro) AS BIGINT) AS drift_sum_micro,
       |  CASE WHEN tin > 0 THEN CAST(SUM(cin * r_micro) AS BIGINT) // tin
       |    ELSE 0 END AS mean_drift_micro
       |FROM r GROUP BY source, tin, tref
       |ORDER BY source""".stripMargin

  /** DuckDB mirror of q187: the same shard assignment, counts, and
    * additive membership checksum computed batch-side directly from the
    * documents table — any ingest drop/double-process/reassignment
    * breaks the equality. */
  private def manifestIngestOracle: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT h % 16 AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(sum((h % 65536) * (doc_id % 65536)) AS BIGINT) AS checksum
      |FROM d GROUP BY 1
      |ORDER BY shard""".stripMargin

  /** DuckDB mirror of q191: same deletion cohort, same serving
    * anti-join, same additive membership checksum per language. */
  private def deleteIngestOracle: String =
    """WITH c AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
      |  FROM documents WHERE text IS NOT NULL),
      |serv AS (SELECT * FROM c WHERE doc_id % 7 <> 3),
      |ss AS (
      |  SELECT lang, count(*) AS n_serving,
      |    CAST(sum(n_tok) AS BIGINT) AS n_serving_tokens,
      |    CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |         % 1000000007) AS BIGINT) AS serving_checksum
      |  FROM serv GROUP BY lang)
      |SELECT c.lang, count(*) AS n_total,
      |  count(*) - COALESCE(min(ss.n_serving), 0) AS n_deleted,
      |  COALESCE(min(ss.n_serving), 0) AS n_serving,
      |  COALESCE(min(ss.n_serving_tokens), 0) AS n_serving_tokens,
      |  COALESCE(min(ss.serving_checksum), 0) AS serving_checksum
      |FROM c LEFT JOIN ss ON c.lang = ss.lang
      |GROUP BY c.lang
      |ORDER BY c.lang""".stripMargin

  /** DuckDB mirror of q190: q181's injection + pattern chain (the
    * shared constants) rolled up per language with the additive
    * redaction-content checksum. */
  private def redactIngestOracle: String =
    s"""WITH pii AS (
       |  SELECT doc_id, lang,
       |    ${Curation.PiiInjectSql} AS t
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(t, '${Curation.EmailPat}')) AS BIGINT) AS n_email,
       |    CAST(len(regexp_extract_all(t, '${Curation.SsnPat}')) AS BIGINT) AS n_ssn,
       |    CAST(len(regexp_extract_all(t, '${Curation.PhonePat}')) AS BIGINT) AS n_phone,
       |    md5(regexp_replace(
       |          regexp_replace(
       |            regexp_replace(t, '${Curation.EmailPat}', '<EMAIL>', 'g'),
       |            '${Curation.SsnPat}', '<SSN>', 'g'),
       |          '${Curation.PhonePat}', '<PHONE>', 'g')) AS rm
       |  FROM pii)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(('0x' || substr(rm, 1, 15))::BIGINT % 1000000007) AS BIGINT)
       |    AS content_checksum
       |FROM r GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** DuckDB mirror of q179: the real generated chain, rolled up per
    * language — the ingest loop must reproduce the batch tokenization
    * exactly, micro-batching and all. */
  private def bpeIngestOracle: String =
    "WITH " + PipelineTokenizer.bpeOracleCtesBody(PipelineTokenizer.BpeMerges) +
      PipelineTokenizer.bpeOracleDocCtes +
      """
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
        |  CAST(SUM(p.n_tokens_bpe) AS BIGINT) AS n_tokens_bpe
        |FROM perdoc p JOIN documents d USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin
}

/** q105's processor: per-user running stats in three independently-typed
  * state variables. Batch-internal row order is irrelevant — count, sum,
  * and per-type counts are order-insensitive — so no within-batch sort is
  * needed (unlike q80's inter-event gap).
  */
private class UserStatsProcessor
    extends StatefulProcessor[Int, (Int, String, Long), (Int, Long, Long, Long)] {
  @transient private var nEvents: ValueState[Long] = _
  @transient private var sumFloor: ValueState[Long] = _
  @transient private var typeCounts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    nEvents = getHandle.getValueState[Long]("n_events", Encoders.scalaLong, TTLConfig.NONE)
    sumFloor = getHandle.getValueState[Long]("sum_floor", Encoders.scalaLong, TTLConfig.NONE)
    typeCounts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(uid: Int, rows: Iterator[(Int, String, Long)],
      timers: TimerValues): Iterator[(Int, Long, Long, Long)] = {
    var n = if (nEvents.exists()) nEvents.get() else 0L
    var sm = if (sumFloor.exists()) sumFloor.get() else 0L
    rows.foreach { case (_, etype, vf) =>
      n += 1
      sm += vf
      val c = if (typeCounts.containsKey(etype)) typeCounts.getValue(etype) else 0L
      typeCounts.updateValue(etype, c + 1)
    }
    nEvents.update(n)
    sumFloor.update(sm)
    Iterator.single((uid, n, typeCounts.keys().size.toLong, sm))
  }
}

/** q106's processor: input rows only maintain state and (re)arm the
  * key's session timer; ALL emission happens in handleExpiredTimer when
  * the watermark passes it — the "key went quiet" shape. Session gap:
  * 30 s after the key's latest event.
  */
private class SessionTimerProcessor
    extends StatefulProcessor[Int, (Int, Long), (Int, Long, Long)] {
  private val GapSec = 30L
  @transient private var cnt: ValueState[Long] = _
  @transient private var tMin: ValueState[Long] = _
  @transient private var tMax: ValueState[Long] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
    tMin = getHandle.getValueState[Long]("t_min", Encoders.scalaLong, TTLConfig.NONE)
    tMax = getHandle.getValueState[Long]("t_max", Encoders.scalaLong, TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(uid: Int, rows: Iterator[(Int, Long)],
      timers: TimerValues): Iterator[(Int, Long, Long)] = {
    var c = if (cnt.exists()) cnt.get() else 0L
    var lo = if (tMin.exists()) tMin.get() else Long.MaxValue
    var hi = if (tMax.exists()) tMax.get() else Long.MinValue
    rows.foreach { case (_, sec) =>
      c += 1
      lo = math.min(lo, sec)
      hi = math.max(hi, sec)
    }
    cnt.update(c); tMin.update(lo); tMax.update(hi)
    if (armed.exists()) getHandle.deleteTimer(armed.get()) // session extended
    val expiry = (hi + GapSec) * 1000L
    getHandle.registerTimer(expiry)
    armed.update(expiry)
    Iterator.empty
  }

  override def handleExpiredTimer(uid: Int, timers: TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Int, Long, Long)] = {
    val out = (uid, cnt.get(), tMax.get() - tMin.get())
    cnt.clear(); tMin.clear(); tMax.clear(); armed.clear()
    Iterator.single(out)
  }
}

/** q108's processor: a running count whose state warm-starts from a
  * batch dataset via handleInitialState — seeding emits nothing; only
  * live rows produce output. */
private class WarmStartCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Int, Int, (Int, Long), (Int, Long)] {
  @transient private var cnt: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInitialState(uid: Int, initial: (Int, Long),
      timers: TimerValues): Unit =
    cnt.update(initial._2)

  override def handleInputRows(uid: Int, rows: Iterator[Int],
      timers: TimerValues): Iterator[(Int, Long)] = {
    val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
    cnt.update(n)
    Iterator.single((uid, n))
  }
}
