package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in observers for the traced run: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for
  * each action's `QueryPlanningTracker` phases. Nothing here runs on the
  * timed path of an untraced run. All times are epoch milliseconds, so
  * records can be attributed to bench-side windows after the fact. */
final class Layers(spark: SparkSession) {
  import Layers._

  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Double]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val markerSeen = new AtomicReference[String]("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(e.time.toDouble)
      Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
        .foreach(markerSeen.set)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add(StageRec(i.stageId, s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val in = m.inputMetrics
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        tasks.add(TaskRec(
          launch = e.taskInfo.launchTime.toDouble,
          runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          inRecords = in.recordsRead, inBytes = in.bytesRead,
          shReadRecords = sr.recordsRead,
          shWriteRecords = sw.recordsWritten, shWriteBytes = sw.bytesWritten))
      }
    }
  }

  /** Records the planning phases a query execution's tracker has seen. */
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add(PhaseRec(name, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until every event posted so far has been delivered: run a
    * tagged marker action and wait for its job to reach the listener (the
    * listener queue is FIFO), then give the execution-listener bus a
    * moment to catch up. */
  def drain(): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, tag)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.currentTimeMillis() + 10000
    while (markerSeen.get != tag && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(300)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def stagesIn(w0: Double, w1: Double): Seq[StageRec] =
    stages.asScala.filter(s => s.submit >= w0 && s.submit < w1).toSeq
  def tasksIn(w0: Double, w1: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launch >= w0 && t.launch < w1).toSeq
  def jobsIn(w0: Double, w1: Double): Int =
    jobs.asScala.count(t => t >= w0 && t < w1)
  def phasesIn(w0: Double, w1: Double): Seq[PhaseRec] =
    phases.asScala.filter(p => p.start >= w0 && p.start < w1).toSeq
}

object Layers {
  val MarkerKey = "perfbench.marker"

  final case class StageRec(id: Int, submit: Double, complete: Double)
  final case class TaskRec(
      launch: Double, runMs: Long, cpuNs: Long, gcMs: Long,
      inRecords: Long, inBytes: Long, shReadRecords: Long,
      shWriteRecords: Long, shWriteBytes: Long)
  final case class PhaseRec(name: String, start: Double, end: Double)

  /** Total length of the union of intervals, clipped to [w0, w1]. */
  def unionMs(intervals: Seq[(Double, Double)], w0: Double, w1: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Task-level per-layer metrics over `ts`: counts and times scaled by
    * `per` (the unit of work), busy share against `wallS` x `cpus`. */
  def putTaskLayers(ts: Seq[TaskRec], per: Double, wallS: Double, cpus: Int,
      m: scala.collection.mutable.Map[String, Double]): Unit = {
    def sum(f: TaskRec => Long): Double = ts.map(f).sum.toDouble
    m("sched.tasks") = ts.size * per
    m("sched.empty_task_frac") =
      if (ts.isEmpty) 0.0 else ts.count(t => t.inRecords == 0 && t.shReadRecords == 0).toDouble / ts.size
    m("exec.run_s") = sum(_.runMs) / 1e3 * per
    m("exec.cpu_s") = sum(_.cpuNs) / 1e9 * per
    m("exec.gc_s") = sum(_.gcMs) / 1e3 * per
    m("exec.busy_frac") = sum(_.runMs) / 1e3 / (wallS * cpus)
    m("shuffle.write_records") = sum(_.shWriteRecords) * per
    m("shuffle.write_bytes") = sum(_.shWriteBytes) * per
    m("scan.input_records") = sum(_.inRecords) * per
    m("scan.input_bytes") = sum(_.inBytes) * per
  }
}
