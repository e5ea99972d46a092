package graft.nats

import java.util.UUID

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Stateful Structured Streaming over the NATS source: the streaming
  * semantics Spark adds beyond the reference's unbounded-scan-only model
  * (SURVEY §2.B streaming row — watermarked dedup and arbitrary keyed
  * state), exercised end-to-end through format("nats").
  */
/** Standalone (no `$outer`) processor for the transformWithState test:
  * running MAX of id per key, kept in a typed ValueState. */
class RunningMaxProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (Int, String), (String, Long)] {
  @transient private var maxSeen: org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    maxSeen = getHandle.getValueState[Long]("maxSeen",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(Int, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, Long)] = {
    val prev = if (maxSeen.exists()) maxSeen.get() else Long.MinValue
    val mx = (Iterator.single(prev) ++ rows.map(_._1.toLong)).max
    maxSeen.update(mx)
    Iterator.single((key, mx))
  }
}

/** Standalone (no `$outer`) processor for the ListState test: per-key
  * top-3 distinct values kept in a ListState and re-`put` trimmed each
  * batch — the bounded-buffer shape (last-N, top-N) ListState exists
  * for, where MapState has no order and ValueState[Seq] forces a full
  * serialize per append. Emits (key, sorted CSV of the current top-3). */
class Top3ListProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (Int, String), (String, String)] {
  @transient private var vals: org.apache.spark.sql.streaming.ListState[Long] = _

  override def init(
      outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    vals = getHandle.getListState[Long]("vals",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: String,
      rows: Iterator[(Int, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(String, String)] = {
    rows.foreach(r => vals.appendValue(r._1.toLong))
    val top = vals.get().toSeq.distinct.sorted(Ordering[Long].reverse).take(3)
    vals.put(top.toArray) // trim: state stays bounded at 3 per key
    Iterator.single((key, top.sorted.mkString(",")))
  }
}

class StatefulStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def freshBus(): String = "memory://stateful-" + UUID.randomUUID()

  test("dropDuplicatesWithinWatermark over the source: replayed ids emitted once") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val schema = StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("id", IntegerType, nullable = false)))
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "dups")
      .option("batchSize", "6")
      .load()
    val q = df
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName("nats_dedup_stream").start()
    try {
      NatsDemo.awaitSubscriber(url, "dups")
      // id 1 published three times, id 2 twice, id 3 once — all within
      // the watermark window, so each id must survive exactly once
      Seq("2024-01-01 10:00:00,1", "2024-01-01 10:00:01,1", "2024-01-01 10:00:02,2",
        "2024-01-01 10:00:03,1", "2024-01-01 10:00:04,2", "2024-01-01 10:00:05,3")
        .foreach(m => conn.publish("dups", m.getBytes))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM nats_dedup_stream ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      assert(ids === Seq(1, 2, 3))
    } finally { q.stop(); conn.close() }
  }

  test("mapGroupsWithState: running count per key survives across micro-batches") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "keyed")
      .option("batchSize", "3")
      .load()
    import spark.implicits._
    val counts = df.as[(Int, String)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(Int, String)], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (key, total)
      }
      .toDF("name", "n")
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("nats_keyed_state").start()
    try {
      NatsDemo.awaitSubscriber(url, "keyed")
      // batch 1: a,a,b
      Seq("1,a", "2,a", "3,b").foreach(m => conn.publish("keyed", m.getBytes))
      q.processAllAvailable()
      // batch 2: a,b,b — state must carry the batch-1 counts forward
      Seq("4,a", "5,b", "6,b").foreach(m => conn.publish("keyed", m.getBytes))
      q.processAllAvailable()
      val finalCounts = spark.sql(
        "SELECT name, MAX(n) AS n FROM nats_keyed_state GROUP BY name ORDER BY name")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(finalCounts === Seq(("a", 3L), ("b", 3L)))
    } finally { q.stop(); conn.close() }
  }

  test("flatMapGroupsWithState: zero-or-many emission — a key emits only on every 3rd event") {
    // The flat variant's contract (an Iterator, not exactly-one row) is
    // what threshold alerts / session-close emission are built on: most
    // batches emit NOTHING for a key, state still advances.
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "alerts")
      .option("batchSize", "4")
      .load()
    import spark.implicits._
    val alerts = df.as[(Int, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(Int, String)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[(String, Long)]
          rows.foreach { _ =>
            n += 1
            if (n % 3 == 0) out += ((key, n))
          }
          state.update(n)
          out.result().iterator
      }
      .toDF("name", "n")
    val q = alerts.writeStream.outputMode("update")
      .format("memory").queryName("nats_flat_state").start()
    try {
      NatsDemo.awaitSubscriber(url, "alerts")
      // batch 1: a,a,b,b -> no emission (no key reaches 3)
      Seq("1,a", "2,a", "3,b", "4,b").foreach(m => conn.publish("alerts", m.getBytes))
      q.processAllAvailable()
      assert(spark.sql("SELECT COUNT(*) FROM nats_flat_state").first().getLong(0) === 0L,
        "emitted before any key reached the threshold")
      // batch 2: a,b,a,a -> a reaches 3 (emit), then 4, 5; b reaches 3 (emit)
      Seq("5,a", "6,b", "7,a", "8,a").foreach(m => conn.publish("alerts", m.getBytes))
      q.processAllAvailable()
      val got = spark.sql("SELECT name, n FROM nats_flat_state ORDER BY name, n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === Seq(("a", 3L), ("b", 3L)),
        s"expected exactly the threshold crossings, got $got")
    } finally { q.stop(); conn.close() }
  }

  test("transformWithState (Spark 4 state API): typed ValueState survives batches on RocksDB") {
    // The modern replacement for mapGroupsWithState: typed state handles
    // (ValueState/ListState/MapState), timers, and TTL — requires the
    // RocksDB state store provider, which is also the provider a real
    // cluster runs (HDFS-backed in-memory maps don't scale state).
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    import spark.implicits._
    val updates = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "tws")
      .option("batchSize", "3")
      .load()
      .as[(Int, String)]
      .groupByKey(_._2)
      .transformWithState(new RunningMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("name", "mx")
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName("nats_tws").start()
    try {
      NatsDemo.awaitSubscriber(url, "tws")
      Seq("5,a", "3,a", "7,b").foreach(m => conn.publish("tws", m.getBytes))
      q.processAllAvailable()
      // batch 2: a sees only 4 — the running max must stay 5 (state carry)
      Seq("4,a", "9,b", "1,b").foreach(m => conn.publish("tws", m.getBytes))
      q.processAllAvailable()
      val got = spark.sql("SELECT name, MAX(mx) AS mx FROM nats_tws GROUP BY name ORDER BY name")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === Seq(("a", 5L), ("b", 9L)), s"state did not carry: $got")
    } finally {
      q.stop(); conn.close()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState ListState: bounded per-key top-3 buffer survives batches and trims") {
    // Completes the typed-state family next to ValueState (RunningMax)
    // and MapState (q105): append + trimmed re-put across two batches.
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    import spark.implicits._
    val updates = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "tws_list")
      .option("batchSize", "3")
      .load()
      .as[(Int, String)]
      .groupByKey(_._2)
      .transformWithState(new Top3ListProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("name", "top3")
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName("nats_tws_list").start()
    try {
      NatsDemo.awaitSubscriber(url, "tws_list")
      Seq("5,a", "3,a", "7,b").foreach(m => conn.publish("tws_list", m.getBytes))
      q.processAllAvailable()
      // batch 2: a's 9 and 1 arrive — 1 must be trimmed out of a's top-3
      // ([9,5,3]); b keeps both its values. State carried the batch-1 list.
      Seq("9,a", "1,a", "2,b").foreach(m => conn.publish("tws_list", m.getBytes))
      q.processAllAvailable()
      val got = spark.sql("SELECT name, top3 FROM nats_tws_list ORDER BY name, top3")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got === Seq(("a", "3,5"), ("a", "3,5,9"), ("b", "2,7"), ("b", "7")),
        s"unexpected emissions: $got")
    } finally {
      q.stop(); conn.close()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("q105 QueryDef: MapState type histogram + two ValueStates across a batch boundary") {
    // The registry entry (oracle-paired in the driver gate) run as a
    // spec: point-updatable MapState per-type counts, monotone outputs
    // reduced by the sink MAX, provider conf restored after the build.
    val df = graft.queries.Registry.byName("q105_transform_with_state").build(spark, "")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((1, 3L, 2L, 3L), (2, 3L, 3L, 8L)))
    // conf restore: the effective provider is back to the session default
    // (RuntimeConfig.getOption surfaces the default, so the restore
    // re-sets it explicitly — what matters is RocksDB didn't leak)
    assert(!spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"), "q105 must not leak its RocksDB provider setting")
  }

  test("q106 QueryDef: event-time timers close sessions when the watermark passes them") {
    // Emission is timer-driven only (append mode): u1/u2's timers expire
    // in the trailing no-data batch once u3's traffic advances the
    // watermark; u3's own timer never fires — exactly two session rows.
    val df = graft.queries.Registry.byName("q106_stream_timers").build(spark, "")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1, 3L, 20L), (2, 1L, 0L)))
  }

  test("transformWithState state survives a checkpoint restart on RocksDB") {
    // The durability half of the new API: typed state checkpoints with
    // the query and restores on restart — a key that saw 5 before the
    // stop must NOT report 4 after it (fresh state would).
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val url = freshBus() + "?retain=100"
    val conn = NatsTransport.connect(url)
    val ckpt = java.nio.file.Files.createTempDirectory("tws-restart-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("tws-restart-out").toString
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    import spark.implicits._
    def startQuery() = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "tws_restart")
      .option("batchSize", "3").option("flushTimeoutMs", "50")
      .option("replay", "true").option("startSequence", "0")
      .load()
      .as[(Int, String)]
      .groupByKey(_._2)
      .transformWithState(new RunningMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("name", "mx")
      .writeStream.outputMode("append")
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    def sunk(): Seq[(String, Long)] =
      spark.read.schema(StructType(Seq(
        StructField("name", StringType), StructField("mx", LongType))))
        .parquet(out).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    try {
      Seq("5,a", "3,a", "7,b").foreach(m => conn.publish("tws_restart", m.getBytes))
      val q1 = startQuery()
      val deadline = System.currentTimeMillis() + 15000
      while (sunk().size < 2 && System.currentTimeMillis() < deadline) {
        q1.processAllAvailable(); Thread.sleep(50)
      }
      assert(sunk().toSet === Set(("a", 5L), ("b", 7L)))
      q1.stop()
      // down; the world keeps publishing — a's 4 must lose to restored 5
      Seq("4,a", "9,b", "1,b").foreach(m => conn.publish("tws_restart", m.getBytes))
      val q2 = startQuery()
      val deadline2 = System.currentTimeMillis() + 15000
      while (sunk().size < 4 && System.currentTimeMillis() < deadline2) {
        q2.processAllAvailable(); Thread.sleep(50)
      }
      q2.stop()
      val byKey = sunk().groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(byKey === Map("a" -> 5L, "b" -> 9L),
        s"restored state must keep a's max at 5, got ${sunk()}")
      assert(sunk().count(_ == ("a", 4L)) === 0,
        "a emitted 4 after restart: ValueState did not restore")
    } finally {
      conn.close()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("q108 QueryDef: batch dataset warm-starts streaming state; silent and unseeded keys pinned") {
    val df = graft.queries.Registry.byName("q108_stream_initial_state").build(spark, "")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // u1 = 10 seed + 2 live; u2's seed never emits (no live rows); u3 = live-only
    assert(rows === Seq((1, 12L), (3, 1L)))
  }

  test("q154 QueryDef: dedup-at-ingest flags a batch-2 duplicate against batch 1's index") {
    // The cross-batch property the entry exists for: doc 3 arrives in
    // micro-batch 2, its bands collide with doc 1's (appended to the
    // standing index by micro-batch 1's foreachBatch), so it is flagged
    // dup — while batch-1 docs and the genuinely-new doc 4 stay clean.
    val df = graft.queries.Registry.byName("q154_stream_dedup_ingest")
      .build(spark, "/root/testdata/sf0.001")
    val rows = df.collect().map(r => (r.getInt(0), r.getBoolean(1))).toSeq
    assert(rows === Seq((1, false), (2, false), (3, true), (4, false)))
  }

  test("q246 QueryDef: stream-absorbed graph delta EQUALS the q244 batch absorb, row for row") {
    // The at-ingest twin contract (the q209/q217 convention): q246
    // shares q244's maintenance kernel, eval, and oracle — here the two
    // entries' OUTPUT ROWS are pinned equal directly, so a drift
    // between the streaming loop and the batch pass fails the suite
    // even without the DuckDB gate. Arrival-order freedom is by
    // construction (candidates come from standing artifacts, never
    // batch peers; each vec_id absorbs once), so the two publish
    // rounds' batching cannot show through.
    val dir = "/root/testdata/sf0.001"
    val stream = graft.queries.Registry.byName("q246_graph_absorb_at_ingest")
      .build(spark, dir).collect().toSeq
    val batch = graft.queries.Registry.byName("q244_graph_index_maintain")
      .build(spark, dir).collect().toSeq
    assert(stream === batch,
      s"stream absorb diverged from batch absorb:\n stream: $stream\n batch: $batch")
  }

  test("q254 QueryDef: bus-accumulated tombstones reconcile EXACTLY like the q247 batch deletion") {
    // The twin contract again (q246's convention applied to deletion):
    // tombstone accumulation is a distinct-ed set union — order-free
    // and idempotent — so the drained log must drive sketchDeleteStats
    // to q247's row exactly, two publish batches notwithstanding.
    val dir = "/root/testdata/sf0.001"
    val stream = graft.queries.Registry.byName("q254_delete_at_ingest_sketch")
      .build(spark, dir).collect().toSeq
    val batch = graft.queries.Registry.byName("q247_sketch_delete_propagation")
      .build(spark, dir).collect().toSeq
    assert(stream === batch,
      s"streamed deletion diverged from the batch pass:\n stream: $stream\n batch: $batch")
  }

  test("q257 QueryDef: stream-encoded IVFPQ codes EQUAL the one-shot batch encode, row for row") {
    // The twin contract applied to the stored IVF+PQ index (round 20):
    // encoding touches only the two broadcast dictionaries (centroids +
    // residual codebook), so the union of per-batch encodes must equal
    // the batch kernel on the whole cohort exactly — two publish rounds
    // notwithstanding.
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val stream = graft.queries.Registry.byName("q257_ivfpq_encode_at_ingest")
      .build(spark, dir).collect().toSeq
    val isNew = col("vec_id") % 10 === 3
    val batch = graft.queries.PipelineRetrieval.ivfpqEncode(spark, dir,
        graft.Tables.load(spark, dir, "embeddings")
          .filter(isNew).select(col("vec_id"), col("embedding")))
      .orderBy(col("vec_id"), col("m")).collect().toSeq
    assert(stream === batch,
      s"streamed encode diverged from the batch kernel:\n stream: $stream\n batch: $batch")
  }

  test("q261 QueryDef: bus-served answers EQUAL the batch serve row (request/reply twin)") {
    // The twin contract applied to SERVING (round 20): requests arrive
    // in two publish batches, each micro-batch walks only ITS qids'
    // beams over the stored graph and publishes the picks through the
    // NATS sink — and because every window/join in the walk partitions
    // on qid, a subset walk equals the batch walk per qid. The drained
    // answers, graded by the shared truth/accounting, must reproduce
    // q245's summary row exactly.
    val dir = "/root/testdata/sf0.001"
    val stream = graft.queries.Registry.byName("q261_serve_at_ingest")
      .build(spark, dir).collect().toSeq
    val batch = graft.queries.Registry.byName("q245_graph_serve")
      .build(spark, dir).collect().toSeq
    assert(stream === batch,
      s"bus serve diverged from batch serve:\n stream: $stream\n batch: $batch")
  }
}
