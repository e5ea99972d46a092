package graftbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.nats.{CsvCodec, LedgerConfig, MiniNatsServer, NatsConnection, NatsTransport}
import graftbench.Main.{Ctx, Outcome}

/** Seeded six-type CSV rows (the reference's full-width codec fixture
  * shape) and the row each one must become after the workload's SQL. */
object Rows {
  val schema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("active", BooleanType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("date", DateType, nullable = false)))

  private val names = Array("apple", "banana", "orange", "John Doe", "Jane Roe", "kiwi",
    "mango", "pear", "plum", "grape", "lime", "fig")
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val base = Instant.parse("2025-01-01T00:00:00Z").getEpochSecond

  final case class Row(id: Int, payload: Array[Byte], expected: Option[String])

  /** Payload `id,name,active,amount,created_at,date`; the expected output is
    * `id,NAME,active,amount*2,created_at,date` for rows the filter
    * (`active OR amount > 500`) keeps, None for rows it drops. */
  def make(id: Int, rnd: Random): Row = {
    val name = names(rnd.nextInt(names.length))
    val active = rnd.nextBoolean()
    val amount = rnd.nextInt(100000) / 100.0
    val at = Instant.ofEpochSecond(base + rnd.nextInt(365 * 86400))
    val ts = tsFmt.format(at)
    val date = dateFmt.format(at)
    val payload = s"$id,$name,$active,$amount,$ts,$date"
    val keep = active || amount > 500.0
    Row(id, payload.getBytes("UTF-8"),
      if (keep) Some(s"$id,${name.toUpperCase},$active,${amount * 2},$ts,$date") else None)
  }

  /** Median single-thread `CsvCodec.parse` cost per payload, in ns. */
  def parseNsPerRow(payloads: Seq[Array[Byte]]): Double = {
    val codec = CsvCodec.strict(schema)
    val strs = payloads.map(new String(_, "UTF-8")).toArray
    Stats.median(Seq.fill(5) {
      val t0 = System.nanoTime()
      var i = 0
      var ok = 0
      while (i < strs.length) { if (codec.parse(strs(i)).isRight) ok += 1; i += 1 }
      require(ok == strs.length, "generated payload failed to parse")
      (System.nanoTime() - t0).toDouble / strs.length
    })
  }
}

/** Streaming progress, observed through a `StreamingQueryListener` (no
  * Spark job is run to watch the stream). */
final class Progress(spark: SparkSession) {
  final case class P(atMs: Double, batchId: Long, rows: Long, durations: Map[String, Double],
      backlog: Long, dropped: Long)
  val events = new ConcurrentLinkedQueue[P]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      val src = p.sources.headOption.map(_.metrics.asScala.toMap).getOrElse(Map.empty)
      def n(k: String) = src.get(k).map(_.toLong).getOrElse(0L)
      events.add(P(Instant.parse(p.timestamp).toEpochMilli.toDouble, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        n("backlogRows"), n("droppedRows")))
    }
  }
  spark.streams.addListener(listener)
  def stop(): Unit = spark.streams.removeListener(listener)
  def since(t0: Double, t1: Double = Double.MaxValue): Seq[P] =
    events.asScala.filter(p => p.atMs >= t0 && p.atMs < t1).toSeq

  /** Trigger-level per-layer metrics over the given progress events. */
  def triggerLayers(ps: Seq[P], m: mutable.Map[String, Double]): Unit = {
    val busy = ps.filter(_.rows > 0)
    def p50(k: String) = if (busy.isEmpty) 0.0 else Stats.median(busy.map(_.durations.getOrElse(k, 0.0)))
    m("trigger.count") = ps.size.toDouble
    m("trigger.rows_p50") = if (busy.isEmpty) 0.0 else Stats.median(busy.map(_.rows.toDouble))
    // latestOffset takes under a millisecond and progress reports whole
    // milliseconds, so its median reads 0; the mean keeps the signal.
    m("trigger.latest_offset_ms_mean") =
      if (busy.isEmpty) 0.0 else busy.map(_.durations.getOrElse("latestOffset", 0.0)).sum / busy.size
    m("trigger.planning_ms_p50") = p50("queryPlanning")
    m("trigger.add_batch_ms_p50") = p50("addBatch")
    m("trigger.wal_commit_ms_p50") = p50("walCommit")
    m("ledger.backlog_rows_max") = if (ps.isEmpty) 0.0 else ps.map(_.backlog).max.toDouble
  }

  /** One span per trigger plus its `durationMs` phases, laid end to end
    * in the order Spark runs them (progress carries durations, not
    * start times). */
  def spans(ctx: Ctx, ps: Seq[P]): Unit = ps.foreach { p =>
    val trace = s"batch-${p.batchId}"
    val total = p.durations.getOrElse("triggerExecution", 0.0)
    val root = ctx.spans.add("trigger", p.atMs, p.atMs + total, 0, trace)
    var t = p.atMs
    Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
      .foreach { k =>
        p.durations.get(k).foreach { d => ctx.spans.add(s"trigger.$k", t, t + d, root, trace); t += d }
      }
  }
}

object NatsCommon {
  /** Park until the wall clock reaches `dueMs` (no spinning: the
    * generator must not take a core from the engine it is loading). */
  def waitUntil(dueMs: Double): Unit = {
    var left = dueMs - Stats.wallMs()
    while (left > 0) { LockSupport.parkNanos((left * 1e6).toLong); left = dueMs - Stats.wallMs() }
  }

  def awaitCond(timeoutMs: Long, what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out: $what")
      Thread.sleep(5)
    }
  }

  /** Executor/scheduler per-layer metrics per 1,000 input rows, for a
    * window of a stream's life. */
  def sparkLayers(l: Layers, w0: Double, w1: Double, rows: Long, cpus: Int,
      m: mutable.Map[String, Double]): Unit = {
    val per = 1000.0 / math.max(1L, rows)
    val st = l.stagesIn(w0, w1)
    val ph = l.phasesIn(w0, w1)
    m("planning.analysis_ms") = ph.filter(_.name == "analysis").map(p => p.end - p.start).sum * per
    m("planning.optimization_ms") = ph.filter(_.name == "optimization").map(p => p.end - p.start).sum * per
    m("planning.physical_ms") = ph.filter(_.name == "planning").map(p => p.end - p.start).sum * per
    m("sched.jobs") = l.jobsIn(w0, w1) * per
    m("sched.stages") = st.size * per
    m("sched.driver_gap_s") = ((w1 - w0) - Layers.unionMs(st.map(s => (s.submit, s.complete)), w0, w1)) / 1e3 * per
    Layers.putTaskLayers(l.tasksIn(w0, w1), per, (w1 - w0) / 1e3, cpus, m)
  }

  /** The workload's SQL over a streaming source registered as `nats_in`. */
  def transform(spark: SparkSession, src: DataFrame, defn: JsonNode): DataFrame = {
    src.createOrReplaceTempView("nats_in")
    spark.sql(defn.get("sql").asText)
  }

  def readOptions(defn: JsonNode): Map[String, String] = Defs.options(defn.get("source_options"))
}

/** `nats_live`: open-loop Poisson load over `nats://` TCP into a push-mode
  * `format("nats")` stream that filters, projects, stamps each batch with
  * `current_timestamp()` and writes every row back through the `nats` sink.
  * Latency is measured by a bench-side subscriber on the output subject,
  * from when each event was due to be sent to when its result arrives;
  * capacity by the process CPU time the stream takes to drain bursts of
  * whole batches. */
object NatsLive {
  private final case class Event(row: Rows.Row, dueMs: Double, sentMs: Double, publishNs: Long)
  private final case class Phase(label: String, rate: Double, events: Seq[Event], t0: Double, t1: Double)
  private final case class Receipt(atMs: Double, id: Int, body: String, stampMs: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val defn = Defs.workload(ctx.root, "nats_live")
    val rnd = new Random(ctx.seed)
    val out = new Outcome
    val layers = if (ctx.trace) Some(new Layers(spark)) else None
    val progress = new Progress(spark)
    val server = new MiniNatsServer()
    val inSubject = defn.get("input_subject").asText
    val outSubject = defn.get("output_subject").asText
    val received = new ConcurrentLinkedQueue[Receipt]()
    val receivedIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tapped = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
    val pub = NatsTransport.connect(server.url)
    val sub = NatsTransport.connect(server.url)
    var nextId = 0
    try {
      sub.subscribe(outSubject) { bytes =>
        val at = Stats.wallMs()
        val s = new String(bytes, "UTF-8")
        val cut = s.lastIndexOf(',')
        val id = s.substring(0, s.indexOf(',')).toInt
        received.add(Receipt(at, id, s.substring(0, cut), s.substring(cut + 1).toDouble))
        receivedIds.add(id)
      }
      val tap: Option[NatsConnection] = if (ctx.trace) Some(NatsTransport.connect(server.url)) else None
      tap.foreach(_.subscribe(inSubject) { bytes =>
        val at = Stats.wallMs()
        val s = new String(bytes, "UTF-8")
        tapped.put(s.substring(0, s.indexOf(',')).toInt, at)
      })
      val src = NatsCommon.readOptions(defn).foldLeft(
        spark.readStream.format("nats").schema(Rows.schema)
          .option("url", server.url).option("subject", inSubject)) { case (r, (k, v)) => r.option(k, v) }
        .load()
      val query = NatsCommon.transform(spark, src, defn).writeStream.format("nats")
        .option("url", server.url).option("subject", outSubject)
        .option("checkpointLocation", ctx.dir("ckpt-live"))
        .start()
      val subs = if (ctx.trace) 2 else 1
      NatsCommon.awaitCond(30000, "stream subscription")(server.subscriptionCount(inSubject) >= subs)

      /** Publishes Poisson arrivals at `rate` for `seconds`. */
      def phase(label: String, rate: Double, seconds: Double): Phase = {
        val evs = mutable.ArrayBuffer[Event]()
        val t0 = Stats.wallMs() + 5
        var due = t0
        val end = t0 + seconds * 1e3
        while ({ due += -math.log(1 - rnd.nextDouble()) / rate * 1e3; due < end }) {
          nextId += 1
          val row = Rows.make(nextId, rnd)
          NatsCommon.waitUntil(due)
          val sent = Stats.wallMs()
          val n0 = System.nanoTime()
          pub.publish(inSubject, row.payload)
          evs += Event(row, due, sent, System.nanoTime() - n0)
        }
        Phase(label, rate, evs.toSeq, t0, end)
      }
      // No source options are set, so the stream runs under the ledger's
      // defaults; the bench reads them rather than restating them.
      val batchRows = LedgerConfig().batchSize
      val flushMs = LedgerConfig().flushTimeoutMs.toDouble
      /** Events whose latency is judged. In a size-bound phase the final
        * partial batch waits for the flush timer because the phase ended,
        * not because of load, so the last `batchRows` events are left out. */
      def judged(p: Phase): Seq[Event] =
        if (p.rate * flushMs / 1e3 > batchRows) p.events.dropRight(batchRows) else p.events
      def arrived(evs: Seq[Event]): Int =
        evs.count(e => e.row.expected.isDefined && receivedIds.contains(e.row.id))
      def await(evs: Seq[Event], timeoutMs: Double): Unit = {
        val want = evs.count(_.row.expected.isDefined)
        val deadline = Stats.wallMs() + timeoutMs
        while (arrived(evs) < want && Stats.wallMs() < deadline) Thread.sleep(20)
      }
      def latencies(evs: Seq[Event]): Seq[Double] = {
        val due = evs.map(e => e.row.id -> e.dueMs).toMap
        received.asScala.filter(r => due.contains(r.id)).map(r => r.atMs - due(r.id)).toSeq
      }
      def droppedNow: Long = progress.events.asScala.map(_.dropped).foldLeft(0L)(math.max)
      /** (missing, duplicate, wrong) for the phase's rows. */
      def audit(p: Phase): (Int, Int, Int) = {
        val exp = p.events.map(e => e.row.id -> e.row.expected).toMap
        val got = received.asScala.filter(r => exp.contains(r.id)).groupBy(_.id)
        val missing = exp.count { case (id, e) => e.isDefined && !got.contains(id) }
        val dup = got.values.count(_.size > 1)
        val wrong = got.count { case (id, rs) => !rs.forall(r => exp(id).contains(r.body)) }
        (missing, dup, wrong)
      }
      def backlogGrowing(p: Phase): Boolean = {
        val ps = progress.since(p.t0, p.t1)
        val mid = (p.t0 + p.t1) / 2
        val (a, b) = ps.partition(_.atMs < mid)
        a.nonEmpty && b.nonEmpty && b.map(_.backlog).max > a.map(_.backlog).max + batchRows
      }
      val maxP99 = defn.get("max_p99_ms").asDouble
      /** A ladder step holds when every judged row arrived within the p99
        * bound, nothing was dropped and the backlog did not grow. */
      def holds(p: Phase, droppedBefore: Long): (Boolean, String) = {
        val evs = judged(p)
        val want = evs.count(_.row.expected.isDefined)
        val got = arrived(evs)
        val lat = latencies(evs)
        val p99 = if (lat.isEmpty) Double.PositiveInfinity else Stats.pct(lat, 99)
        val dropped = droppedNow - droppedBefore
        if (dropped > 0) (false, s"$dropped rows dropped")
        else if (got < want) (false, s"${want - got} of $want rows late or lost")
        else if (backlogGrowing(p)) (false, "backlog growing")
        else if (p99 > maxP99) (false, f"p99 $p99%.0f ms")
        else (true, f"p99 $p99%.0f ms")
      }

      /** Publishes `rows` pre-generated events back to back, all due at
        * once, and waits for every kept result: the stream drains a backlog
        * of whole batches (no final partial batch waits for the flush
        * timer). Returns the phase and the CPU seconds its Java threads
        * took. */
      def burst(label: String, rows: Int): (Phase, Double) = {
        val made = (1 to rows).map { _ => nextId += 1; Rows.make(nextId, rnd) }
        val c0 = Stats.threadCpuNs()
        val t0 = Stats.wallMs()
        val evs = made.map { row =>
          val n0 = System.nanoTime()
          pub.publish(inSubject, row.payload)
          Event(row, t0, Stats.wallMs(), System.nanoTime() - n0)
        }
        await(evs, 20000)
        (Phase(label, Double.PositiveInfinity, evs, t0, Stats.wallMs()), Stats.cpuMsSince(c0) / 1e3)
      }
      /** Rows per second from a burst's first publish to its last result. */
      def drainRate(p: Phase): Double = {
        val ids = p.events.map(_.row.id).toSet
        val last = received.asScala.filter(r => ids.contains(r.id)).map(_.atMs).max
        p.events.size / ((last - p.t0) / 1e3)
      }

      val warmup = phase("warmup", defn.get("warmup").get("rate").asDouble,
        defn.get("warmup").get("seconds").asDouble)
      await(warmup.events, 10000)
      val burstRows = defn.get("burst_batches").asInt * batchRows
      val warmupBursts = (1 to defn.get("warmup").get("bursts").asInt)
        .map(i => burst(s"warmup-burst-$i", burstRows)._1)
      out.firstTimedMs = System.currentTimeMillis().toDouble
      val flush = phase("flush", defn.get("flush_rate").asDouble,
        ctx.seconds * defn.get("flush_seconds_share").asDouble)
      val nominalDropped0 = droppedNow
      val nominal = phase("nominal", defn.get("nominal_rate").asDouble,
        ctx.seconds * defn.get("nominal_seconds_share").asDouble)
      await(nominal.events, 5000)
      val nominalHolds = holds(nominal, nominalDropped0)
      val nominalDropped = droppedNow

      // Bursts: backlogs of `burst_batches` full batches, one after
      // another, until their share of --seconds has passed.
      val burstSecs = ctx.seconds * defn.get("burst_seconds_share").asDouble
      val burstRuns = mutable.ArrayBuffer[(Phase, Double)]()
      val burst0 = Stats.wallMs()
      while (burstRuns.size < defn.get("min_bursts").asInt || Stats.wallMs() - burst0 < burstSecs * 1e3)
        burstRuns += burst(s"burst-${burstRuns.size + 1}", burstRows)
      val bursts = burstRuns.map(_._1).toSeq
      val drainRates = bursts.map(drainRate)
      // Drain capacity per CPU-second of the process's Java threads (engine,
      // NATS client and in-process server; the generator runs before the
      // clock), median over the bursts.
      val rowsPerCpuS = Stats.median(burstRuns.map { case (p, cpuS) => p.events.size / cpuS }.toSeq)
      // Before the ladder: how many rows the bench holds after it depends
      // on the step at which the ladder stops.
      val heapMb = Main.retainedHeapMb()
      // The ladder: rising rates, each held for one step, until one fails.
      val ladder = mutable.ArrayBuffer[(Phase, Boolean, String)]()
      val stepSecs = ctx.seconds * defn.get("ladder_step_seconds_share").asDouble
      Defs.doubles(defn.get("ladder_rates")).foreach { r =>
        if (ladder.forall(_._2)) {
          val dropped0 = droppedNow
          val p = phase(s"rate-${r.toInt}", r, stepSecs)
          await(judged(p), maxP99 + 200)
          val (ok, why) = holds(p, dropped0)
          ladder += ((p, ok, why))
        }
      }
      val timedEnd = Stats.wallMs()
      await(flush.events, 5000)
      query.stop()

      // -- correctness: every row of the warm-up, flush, nominal and burst
      // phases arrives once and intact; ladder steps past capacity may lose rows
      // (that is what ends the ladder) but never duplicate or corrupt them
      for (p <- Seq(warmup, flush, nominal) ++ warmupBursts ++ bursts) {
        val (m, d, w) = audit(p)
        out.attempted += p.events.size
        out.fail(m, s"${p.label}: $m rows missing")
        out.fail(d, s"${p.label}: $d rows duplicated")
        out.fail(w, s"${p.label}: $w rows wrong")
      }
      ladder.map(_._1).foreach { p =>
        val (_, d, w) = audit(p)
        out.attempted += p.events.size
        out.fail(d + w, s"${p.label}: $d rows duplicated, $w wrong")
      }
      val strays = received.asScala.count(r => r.id < 1 || r.id > nextId)
      out.fail(strays, s"$strays rows with ids never published")

      val nomLat = latencies(judged(nominal))
      val flushLat = latencies(flush.events)
      val sustained = ladder.takeWhile(_._2).lastOption
        .map { case (p, _, _) => p.events.size / ((p.t1 - p.t0) / 1e3) }.getOrElse(0.0)
      // Trigger capacity: Spark's processedRowsPerSecond over the full
      // batches of the nominal phase.
      val capacity = progress.since(nominal.t0, nominal.t1 + 1000).filter(_.rows == batchRows)
        .map(p => p.rows / (p.durations.getOrElse("triggerExecution", Double.NaN) / 1e3))
      out.e2e("op_p50_ms") = Stats.median(nomLat)
      out.e2e("op_tail_ms") = Stats.pct(nomLat, 99)
      out.e2e("rate_per_s") = rowsPerCpuS
      out.e2e("floor_ms") = Stats.median(flushLat)
      out.e2e("retained_heap_mb") = heapMb
      out.detail("latency_p50_ms") = Stats.median(nomLat)
      out.detail("latency_p99_ms") = Stats.pct(nomLat, 99)
      out.detail("flush_latency_p50_ms") = Stats.median(flushLat)
      out.detail("flush_latency_p99_ms") = Stats.pct(flushLat, 99)
      out.detail("drain_rows_per_s") = drainRates
      out.detail("drain_rows_per_s_median") = Stats.median(drainRates)
      out.detail("burst_cpu_s") = burstRuns.map(_._2)
      out.detail("sustained_rows_per_s") = sustained
      out.detail("trigger_capacity_rows_per_s") = if (capacity.isEmpty) 0.0 else Stats.median(capacity)
      out.detail("nominal_holds") = Map("pass" -> nominalHolds._1, "why" -> nominalHolds._2)
      out.detail("latency_samples") = nomLat.size
      out.detail("ladder") = ladder.map { case (p, ok, why) =>
        Map("offered_rate" -> p.rate, "rows" -> p.events.size, "pass" -> ok, "why" -> why) }
      out.detail("dropped_rows") = droppedNow
      out.detail("rows") = Map("warmup" -> warmup.events.size, "nominal" -> nominal.events.size,
        "flush" -> flush.events.size, "bursts" -> bursts.map(_.events.size).sum)

      layers.foreach { l =>
        l.drain()
        val m = out.layers
        progress.triggerLayers(progress.since(nominal.t0, nominal.t1), m)
        NatsCommon.sparkLayers(l, nominal.t0, nominal.t1, nominal.events.size, ctx.cpus, m)
        val ev = judged(nominal)
        val byId = ev.map(e => e.row.id -> e).toMap
        val nomRecv = received.asScala.filter(r => byId.contains(r.id)).toSeq
        val deliver = ev.flatMap(e => Option(tapped.get(e.row.id)).map(_ - e.dueMs))
        val admit = nomRecv.flatMap(r => Option(tapped.get(r.id)).map(t => r.stampMs - t))
        val sink = nomRecv.map(r => r.atMs - r.stampMs)
        def pp(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, p)
        m("gen.late_ms_p99") = pp(ev.map(e => e.sentMs - e.dueMs), 99)
        m("transport.publish_us_p50") = pp(ev.map(_.publishNs / 1e3), 50)
        m("transport.deliver_ms_p50") = pp(deliver, 50)
        m("transport.deliver_ms_p99") = pp(deliver, 99)
        m("ledger.admit_wait_ms_p50") = pp(admit, 50)
        m("ledger.admit_wait_ms_p99") = pp(admit, 99)
        m("ledger.dropped_rows") = (nominalDropped - nominalDropped0).toDouble
        m("codec.parse_ns_per_row") = Rows.parseNsPerRow(ev.map(_.row.payload))
        m("sink.deliver_ms_p50") = pp(sink, 50)
        m("sink.deliver_ms_p99") = pp(sink, 99)
        m("trace.op_p50_ms") = Stats.median(nomLat)
        progress.spans(ctx, progress.since(nominal.t0, timedEnd))
        out.detail("per_layer_unit_of_work") =
          "nominal phase; scheduler/executor counters per 1,000 input rows"
        out.detail("flush_admit_wait_ms_p50") = pp(
          received.asScala.filter(r => flush.events.exists(_.row.id == r.id))
            .flatMap(r => Option(tapped.get(r.id)).map(t => r.stampMs - t)).toSeq, 50)
        l.stop()
      }
      tap.foreach(_.close())
    } finally {
      progress.stop()
      pub.close(); sub.close()
      server.stop()
    }
    out
  }
}
