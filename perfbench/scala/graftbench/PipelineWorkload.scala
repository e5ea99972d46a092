package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

import graftbench.Main.{Ctx, Outcome}

/** `pipeline_short`: a closed loop over a frozen list of registered
  * queries on the bundled fixture tables.
  *
  * Set-up (counted in `setup_s`): session start, then one pass that builds
  * and collects every query, checks its order-insensitive checksum against
  * `perfbench/expected.json`, and leaves the `SketchStore` artifacts in
  * this run's fresh `GRAFT_SCRATCH`; then `warmup_passes` untimed noop
  * passes. Set-up runs the queries in the list's order whatever the seed:
  * the order in which cold code first runs shapes what the JIT compiles,
  * and a seeded set-up order spread the timed figures between seeds.
  * Timed: whole passes in a seeded order, each query timed from
  * `QueryDef.build` through its `noop` write, until `--seconds` have
  * passed. The cache is cleared after every query, as `graft.Bench` does.
  * Each query is timed on the wall clock and in CPU time of the process's
  * Java threads; the gated figures are the CPU ones. */
object PipelineWorkload {
  private final case class Exec(query: String, pass: Int, start: Double, buildEnd: Double,
      end: Double, cpuMs: Double)

  def run(ctx: Ctx, name: String): Outcome = {
    val spark = ctx.spark
    val defn = Defs.workload(ctx.root, name)
    val queries = Defs.strings(defn.get("queries"))
    val tailP = defn.get("tail_percentile").asDouble
    val dataDir = ctx.root.resolve(defn.get("data").asText).toString
    val expected = Defs.expected(ctx.root)
    val registry = graft.queries.Registry.byName
    val missing = queries.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: $missing")
    val rnd = new Random(ctx.seed)
    val out = new Outcome
    val layers = if (ctx.trace) Some(new Layers(spark)) else None
    val scratch = Paths.get(sys.env("GRAFT_SCRATCH"))
    val record = sys.env.get("PERFBENCH_RECORD")
    val recorded = mutable.LinkedHashMap[String, String]()

    // ---- set-up: build + collect + checksum every query once ----
    var storeWarmMs = 0.0
    val coldMs = mutable.LinkedHashMap[String, Double]()
    out.detail("workload_start_s") = (System.currentTimeMillis() - ctx.launchMs) / 1e3
    queries.foreach { q =>
      val before = dirBytes(scratch)
      val t0 = Stats.nowMs()
      out.attempted += 1
      try {
        val df = registry(q).build(spark, dataDir)
        val schema = df.schema.fields.map(f => f.name + ":" + f.dataType.simpleString).mkString(",")
        val sum = Stats.checksum(schema, df.collect())
        recorded(q) = sum
        expected.get(q) match {
          case Some(e) if e == sum =>
          case Some(e) => out.fail(1, s"$q: checksum $sum, expected $e")
          case None if record.isDefined =>
          case None => out.fail(1, s"$q: no expected checksum recorded")
        }
      } catch {
        case e: Throwable => out.fail(1, s"$q: set-up pass threw $e")
      }
      spark.catalog.clearCache()
      coldMs(q) = Stats.nowMs() - t0
      if (dirBytes(scratch) > before) storeWarmMs += coldMs(q)
    }
    record.foreach { f =>
      Files.writeString(Paths.get(f), Stats.json(recorded))
    }
    val scratchBytes = dirBytes(scratch)

    def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // Untimed passes through the timed path (noop write), so the JIT has
    // compiled it before the clock starts.
    val warmWalls = mutable.ArrayBuffer[Double]()
    for (_ <- 1 to defn.get("warmup_passes").asInt) {
      val w0 = Stats.nowMs()
      queries.foreach { q =>
        try materialize(registry(q).build(spark, dataDir))
        catch { case e: Throwable => out.fail(1, s"$q: warm-up pass threw $e") }
        spark.catalog.clearCache()
      }
      warmWalls += (Stats.nowMs() - w0) / 1e3
    }
    out.detail("cold_pass_ms") = coldMs
    out.detail("warmup_pass_walls_s") = warmWalls

    // Fixed cost floor: a noop write of a one-row in-memory frame, sampled
    // after every query so that its samples span the same time as theirs.
    import spark.implicits._
    val one = Seq(1).toDF("x")
    materialize(one)
    val floorWall = mutable.ArrayBuffer[Double]()
    val floorCpu = mutable.ArrayBuffer[Double]()
    /** Times `f` on the wall clock and in Java-thread CPU milliseconds. */
    def timed[T](f: => T): (T, Double, Double, Double) = {
      val c0 = Stats.threadCpuNs()
      val s = Stats.wallMs()
      val r = f
      val e = Stats.wallMs()
      (r, s, e, Stats.cpuMsSince(c0))
    }
    def floorSample(): Double = {
      val (_, s, e, cpu) = timed(materialize(one))
      floorWall += e - s
      floorCpu += cpu
      e - s
    }

    // ---- timed passes ----
    out.firstTimedMs = System.currentTimeMillis().toDouble
    val t0 = Stats.nowMs()
    val execs = mutable.ArrayBuffer[Exec]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    var pass = 0
    while (pass == 0 || Stats.nowMs() - t0 < ctx.seconds * 1e3) {
      pass += 1
      val p0 = Stats.nowMs()
      var floorMs = 0.0
      var cpuMs = 0.0
      rnd.shuffle(queries).foreach { q =>
        out.attempted += 1
        try {
          val (b, s, e, cpu) = timed {
            val df = registry(q).build(spark, dataDir)
            val b = Stats.wallMs()
            // The returned frame was analyzed inside build; the noop write
            // plans it again under its own execution, which the listener sees.
            layers.foreach(_.record(df.queryExecution))
            materialize(df)
            b
          }
          execs += Exec(q, pass, s, b, e, cpu)
          cpuMs += cpu
        } catch {
          case e: Throwable => out.fail(1, s"$q: pass $pass threw $e")
        }
        spark.catalog.clearCache()
        floorMs += floorSample()
      }
      passWalls += Stats.nowMs() - p0 - floorMs
      passCpu += cpuMs
    }
    val timedMs = Stats.nowMs() - t0

    // Gated figures are Java-thread CPU time; the wall-clock ones are in
    // the detail line (see perfbench/workloads.json for why).
    val walls = execs.map(e => e.end - e.start).toSeq
    val cpus = execs.map(_.cpuMs).toSeq
    val opP50 = Stats.median(cpus)
    out.e2e("op_p50_ms") = opP50
    out.e2e("op_tail_ms") = Stats.pct(cpus, tailP)
    out.e2e("rate_per_s") = queries.size / (Stats.median(passCpu.toSeq) / 1e3)
    out.e2e("floor_ms") = Stats.median(floorCpu.toSeq)
    out.e2e("retained_heap_mb") = Main.retainedHeapMb()
    out.detail("passes") = pass
    out.detail("tail_percentile") = tailP
    out.detail("samples") = walls.size
    out.detail("query_wall_p50_ms") = Stats.median(walls)
    out.detail("query_wall_tail_ms") = Stats.pct(walls, tailP)
    out.detail("queries_per_wall_s") = queries.size / (Stats.median(passWalls.toSeq) / 1e3)
    out.detail("floor_wall_ms") = Stats.median(floorWall.toSeq)
    out.detail("pass_walls_s") = passWalls.map(_ / 1e3)
    out.detail("pass_cpu_s") = passCpu.map(_ / 1e3)
    val byQuery = execs.groupBy(_.query)
    out.detail("query_cpu_ms") = byQuery.map { case (q, es) => q -> es.map(_.cpuMs) }
    out.detail("query_wall_ms") = byQuery.map { case (q, es) => q -> es.map(e => e.end - e.start) }
    out.detail("floor_cpu_ms") = floorCpu

    layers.foreach { l =>
      l.drain()
      traceLayers(ctx, out, l, execs.toSeq, pass, timedMs, storeWarmMs, scratchBytes, opP50)
      l.stop()
    }
    out
  }

  private def traceLayers(ctx: Ctx, out: Outcome, l: Layers, execs: Seq[Exec], passes: Int,
      timedMs: Double, storeWarmMs: Double, scratchBytes: Long, opP50: Double): Unit = {
    val per = 1.0 / passes
    val coverage = mutable.ArrayBuffer[(String, Double, Double)]()
    var gapMs = 0.0
    var stages = 0
    var jobs = 0
    val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    val tasks = mutable.ArrayBuffer[Layers.TaskRec]()
    execs.foreach { e =>
      val trace = s"${e.query}#pass${e.pass}"
      val qs = ctx.spans.add("query", e.start, e.end, 0, trace)
      ctx.spans.add("build", e.start, e.buildEnd, qs, trace)
      ctx.spans.add("write", e.buildEnd, e.end, qs, trace)
      val st = l.stagesIn(e.start, e.end)
      val ph = l.phasesIn(e.start, e.end)
      st.foreach(s => ctx.spans.add(s"stage.${s.id}", s.submit, s.complete, qs, trace))
      ph.foreach(p => ctx.spans.add(s"planning.${p.name}", p.start, p.end, qs, trace))
      ph.foreach(p => phaseMs(p.name) += p.end - p.start)
      val stageIv = st.map(s => (s.submit, s.complete))
      gapMs += (e.end - e.start) - Layers.unionMs(stageIv, e.start, e.end)
      val covered = Layers.unionMs(
        Seq((e.start, e.buildEnd)) ++ ph.map(p => (p.start, p.end)) ++ stageIv, e.start, e.end)
      coverage += ((e.query, covered, e.end - e.start))
      stages += st.size
      jobs += l.jobsIn(e.start, e.end)
      tasks ++= l.tasksIn(e.start, e.end)
    }
    val byQuery = coverage.groupBy(_._1).map { case (q, cs) =>
      q -> Stats.median(cs.map(c => c._2 / c._3).toSeq) }
    val m = out.layers
    m("queries.build_s") = execs.map(e => e.buildEnd - e.start).sum / 1e3 * per
    m("planning.analysis_ms") = phaseMs("analysis") * per
    m("planning.optimization_ms") = phaseMs("optimization") * per
    m("planning.physical_ms") = phaseMs("planning") * per
    m("sched.jobs") = jobs * per
    m("sched.stages") = stages * per
    m("sched.driver_gap_s") = gapMs / 1e3 * per
    Layers.putTaskLayers(tasks.toSeq, per, timedMs / 1e3, ctx.cpus, m)
    m("store.warmup_s") = storeWarmMs / 1e3
    m("store.scratch_bytes") = scratchBytes.toDouble
    m("trace.coverage_min") = byQuery.values.min
    m("trace.uncovered_s") = coverage.map(c => c._3 - c._2).sum / 1e3 * per
    m("trace.op_p50_ms") = opP50
    out.detail("per_layer_unit_of_work") = "one pass over the query list"
    out.detail("coverage_by_query") = byQuery
    out.detail("coverage_gaps_ms") = coverage.groupBy(_._1).collect {
      case (q, cs) if byQuery(q) < 0.9 => q -> Stats.median(cs.map(c => c._3 - c._2).toSeq)
    }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
