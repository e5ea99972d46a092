package graft

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.nats.{InMemoryBus, MiniNatsServer, NatsTransport}

/** Streaming-ingest benchmark: measures the publish -> transport ->
  * ledger -> micro-batch -> sink path against the targets BASELINE.md
  * derives from the reference's BatchBufferConfig (reference
  * src/batch_buffer.rs:22-28): 1,000 rows per micro-batch and a <= 1 s
  * partial-batch flush bound.
  *
  * Run for BOTH transports — the in-process bus and the TCP wire-protocol
  * client against [[MiniNatsServer]] on a real loopback socket — so the
  * numbers cover the code path a production `nats://` deployment uses.
  *
  * Reported per transport:
  *   - `rows_per_sec`: N rows published as fast as the transport accepts,
  *     wall-clocked from first publish until the sink has all N rows —
  *     includes decode (executor-side CSV parse) and sink commit;
  *   - `avg_batch_rows`: N / non-empty micro-batches — the backlog phase
  *     should saturate at ~batchSize (the 1,000-row admission target);
  *   - `flush_latency_ms`: one row published onto an idle stream — the
  *     time until it lands in the sink, dominated by the flush-timeout
  *     policy (<= 1 s target) plus trigger scheduling.
  */
object StreamBench {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private final case class Result(
      rowsPerSec: Double, avgBatchRows: Double, flushLatencyMs: Double)

  /** `"streaming":{...}` fragment for Bench's JSON line. */
  def section(spark: SparkSession, rows: Int = 100000): String = {
    // keep every progress update: batch counting reads recentProgress
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "5000")

    def memReady(url: String) =
      () => InMemoryBus.subscriberCount(url.stripPrefix("memory://"), "bench") > 0
    def overMemory(maxBatches: Int, measureFlush: Boolean): Result = {
      val url = "memory://bench-" + UUID.randomUUID()
      runOne(spark, url, rows, memReady(url), maxBatches, measureFlush)
    }
    def overTcp(maxBatches: Int, measureFlush: Boolean): Result = {
      val server = new MiniNatsServer
      try runOne(spark, server.url, rows,
        () => server.subscriptionCount("bench") > 0, maxBatches, measureFlush)
      finally server.stop()
    }

    // Parity config (one 1,000-row batch per trigger — the reference's
    // admission model) measures all three targets; the scaled config
    // (maxBatchesPerTrigger=64) shows backlog drain at transport speed.
    def one(parity: Result, scaled: Result): String =
      f"""{"rows_per_sec":${parity.rowsPerSec}%.1f,"avg_batch_rows":${parity.avgBatchRows}%.1f,"flush_latency_ms":${parity.flushLatencyMs}%.1f,"rows_per_sec_scaled":${scaled.rowsPerSec}%.1f}"""

    val mem = one(overMemory(1, measureFlush = true), overMemory(64, measureFlush = false))
    val tcp = one(overTcp(1, measureFlush = true), overTcp(64, measureFlush = false))
    // Sink (write path) over TCP: per-row flush (publishBatchRows=1, the
    // pre-pipelining behavior) vs the pipelined default — the delta is
    // the per-publish syscall ceiling the batch seam removes.
    val sinkPerRow = sinkOne(spark, 1, rows)
    val sinkPiped = sinkOne(spark, 500, rows)
    val sink = f"""{"rows_per_sec_flush_per_row":$sinkPerRow%.1f,"rows_per_sec_pipelined":$sinkPiped%.1f}"""
    s""""streaming":{"rows":$rows,"target_batch_rows":1000,"target_flush_ms":1000,"memory":$mem,"nats_tcp":$tcp,"sink_tcp":$sink}"""
  }

  /** Sink path wall-clock: N materialized rows -> codec encode -> TCP
    * publish (no subscriber — the server discards; this times the full
    * client write path, which is what the sink contributes). */
  private def sinkOne(spark: SparkSession, batchRows: Int, rows: Int): Double = {
    val server = new MiniNatsServer
    try {
      val df = spark.range(rows.toLong)
        .selectExpr("cast(id as int) as id", "concat('row', id) as name")
        .coalesce(4).persist()
      df.count() // materialize first: time the write, not the projection
      val t0 = System.nanoTime()
      df.write.format("nats").mode("append")
        .option("url", server.url).option("subject", "bench_sink")
        .option("publishBatchRows", batchRows.toString).save()
      val sec = (System.nanoTime() - t0) / 1e9
      df.unpersist()
      rows / sec
    } finally server.stop()
  }

  private def runOne(
      spark: SparkSession, url: String, rows: Int, ready: () => Boolean,
      maxBatches: Int, measureFlush: Boolean): Result = {
    val sinkName = "stream_bench_" + math.abs(url.hashCode)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "bench")
      .option("batchSize", "1000")         // the reference's admission bound
      .option("flushTimeoutMs", "1000")    // the reference's latency bound
      .option("maxBufferSize", (rows + 8).toString) // burst fits: no drops to mask
      .option("numPartitions", "4")        // executor-side parallel decode
      .option("maxBatchesPerTrigger", maxBatches.toString)
      .load()
    val q = df.writeStream.format("memory").queryName(sinkName).start()
    val pub = NatsTransport.connect(url)
    try {
      def sinkCount(): Long = spark.table(sinkName).count()
      awaitOn(ready, 10000, s"no subscriber on $url")

      // ---- throughput: a full burst, wall-clocked to last row committed
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows) {
        pub.publish("bench", s"$i,row$i".getBytes)
        i += 1
      }
      awaitOn(() => sinkCount() == rows, 120000, s"sink stuck below $rows rows")
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0).max(1)

      // ---- flush latency: one row onto the now-idle stream
      val lat = if (!measureFlush) -1.0 else Seq.fill(3) {
        val before = sinkCount()
        val l0 = System.nanoTime()
        pub.publish("bench", s"${rows + 1},straggler".getBytes)
        awaitOn(() => sinkCount() > before, 30000, "straggler row never flushed")
        (System.nanoTime() - l0) / 1e6
      }.min // min of 3: least scheduler-contaminated observation (see Bench)

      Result(rows / elapsedSec, rows.toDouble / nonEmpty, lat)
    } finally { q.stop(); pub.close() }
  }

  /** Standalone run: `runMain graft.StreamBench [rows]`. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    println("{" + section(spark, args.headOption.map(_.toInt).getOrElse(100000)) + "}")
    spark.stop()
  }

  private def awaitOn(cond: () => Boolean, timeoutMs: Long, msg: String): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond()) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(msg)
      Thread.sleep(5)
    }
  }
}
