package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` (which builds the
  * classpath and owns the run directory). One JVM runs one workload once:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --root CHECKOUT --run-dir DIR --launch-ms EPOCH_MS
  *
  * It prints `PERFBENCH_DETAIL {...}` (everything measured, for people)
  * and, last, `PERFBENCH_RESULT {...}` (the gated metrics). */
object Main {
  /** The gated end-to-end metrics; every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "rate_per_s" -> "1/s", "floor_ms" -> "ms", "retained_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. A workload that does not
    * exercise a layer reports 0 for it (see perfbench/workloads.json). */
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s",
    "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
    "planning.physical_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.empty_task_frac" -> "frac", "sched.driver_gap_s" -> "s",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.busy_frac" -> "frac", "exec.gc_s" -> "s",
    "shuffle.write_records" -> "count", "shuffle.write_bytes" -> "bytes",
    "scan.input_records" -> "count", "scan.input_bytes" -> "bytes",
    "store.warmup_s" -> "s", "store.scratch_bytes" -> "bytes",
    "gen.late_ms_p99" -> "ms", "transport.publish_us_p50" -> "us",
    "transport.deliver_ms_p50" -> "ms", "transport.deliver_ms_p99" -> "ms",
    "ledger.admit_wait_ms_p50" -> "ms", "ledger.admit_wait_ms_p99" -> "ms",
    "ledger.backlog_rows_max" -> "count", "ledger.dropped_rows" -> "count",
    "trigger.count" -> "count", "trigger.rows_p50" -> "count",
    "trigger.latest_offset_ms_mean" -> "ms", "trigger.planning_ms_p50" -> "ms",
    "trigger.add_batch_ms_p50" -> "ms", "trigger.wal_commit_ms_p50" -> "ms",
    "codec.parse_ns_per_row" -> "ns",
    "sink.deliver_ms_p50" -> "ms", "sink.deliver_ms_p99" -> "ms",
    "trace.coverage_min" -> "frac", "trace.uncovered_s" -> "s",
    "trace.op_p50_ms" -> "ms", "trace.spans" -> "count")

  final case class Ctx(
      spark: SparkSession, root: Path, runDir: Path, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, launchMs: Double) {
    val spans = new Spans
    /** Fresh directory under the run directory. */
    def dir(name: String): String = {
      val p = runDir.resolve(name)
      Files.createDirectories(p)
      p.toString
    }
  }

  /** What a workload hands back. `e2e` and `layers` use the names above. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    var firstTimedMs = Double.NaN
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val detail = mutable.LinkedHashMap[String, Any]()
    val defects = mutable.ArrayBuffer[String]()
    def fail(n: Long, why: => String): Unit =
      if (n > 0) { failed += n; if (defects.size < 50) defects += why }
  }

  /** Bench's session settings (graft.Bench), copied exactly, plus
    * run-private directories so runs never share on-disk state. */
  def session(cpus: Int, runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val root = Paths.get(a("root")).toAbsolutePath
    val cpus = a("cpus").toInt
    Files.createDirectories(runDir)
    val code =
      try {
        val spark = session(cpus, runDir)
        val ctx = Ctx(spark, root, runDir, a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", cpus, a("launch-ms").toDouble)
        val calibration0 = Stats.hostCalibrationMs()
        val out = workload match {
          case "pipeline_short" => PipelineWorkload.run(ctx, workload)
          case "nats_live" => NatsLive.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload '$other'")
        }
        out.detail("host_calibration_ms") = Seq(calibration0, Stats.hostCalibrationMs())
        report(ctx, workload, out, a.get("trace-file"))
        spark.stop()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          3
      }
    System.out.flush()
    // Non-daemon threads (NATS server, Spark internals) must not keep a
    // finished benchmark alive.
    Runtime.getRuntime.halt(code)
  }

  private def report(ctx: Ctx, workload: String, out: Outcome, traceFile: Option[String]): Unit = {
    require(!out.firstTimedMs.isNaN, "workload never reached its timed phase")
    out.e2e("setup_s") = (out.firstTimedMs - ctx.launchMs) / 1e3
    val conf = ctx.spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.endsWith(".dir") || k.contains("checkpointLocation") ||
        k == "spark.app.id" || k == "spark.app.startTime" || k == "spark.driver.port" ||
        k == "spark.driver.host" || k == "spark.app.submitTime" }
    val metrics: Seq[(String, String)] = if (ctx.trace) PerLayer else EndToEnd
    val values = if (ctx.trace) out.layers else out.e2e
    val missing = metrics.map(_._1).filterNot(values.contains)
    require(missing.isEmpty || ctx.trace, s"end-to-end metrics not measured: $missing")
    traceFile.foreach { f =>
      out.layers("trace.spans") = ctx.spans.size.toDouble
      ctx.spans.write(Paths.get(f))
    }
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace, "cpus" -> ctx.cpus,
      "end_to_end" -> out.e2e, "defects" -> out.defects)
    if (ctx.trace) detail("per_layer") = out.layers
    detail ++= out.detail
    detail("spark_conf") = conf.toMap
    println("PERFBENCH_DETAIL " + Stats.json(detail))
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, u) =>
        n -> scala.collection.immutable.ListMap("value" -> values.getOrElse(n, 0.0), "unit" -> u) }: _*))
    println("PERFBENCH_RESULT " + Stats.json(result))
  }
}

/** Trace spans, written as JSON lines when the traced run ends. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** Records a span and returns its id (for children's `parent`). */
  def add(name: String, start: Double, end: Double, parent: Long, trace: String): Long = {
    val id = ids.incrementAndGet()
    buf.add(Stats.json(scala.collection.immutable.ListMap(
      "id" -> id, "name" -> name, "start_ms" -> start, "end_ms" -> end,
      "parent" -> (if (parent > 0) Some(parent) else None), "trace" -> trace)))
    id
  }
  def size: Int = buf.size
  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val sb = new StringBuilder
    buf.forEach(l => sb.append(l).append('\n'))
    Files.writeString(p, sb.toString)
  }
}
