package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Small numeric and formatting helpers shared by the workloads. */
object Stats {
  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val rank = (s.size - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def nowMs(): Double = System.nanoTime() / 1e6

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live Java thread, by thread id. Per-thread
    * clocks read in nanoseconds (the process CPU clock ticks in 10 ms
    * steps), leave out the JVM's GC and JIT threads, and do not count time
    * the hypervisor gave to other guests. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Java-thread CPU milliseconds since the reading `c0` of [[threadCpuNs]]. */
  def cpuMsSince(c0: Map[Long, Long]): Double =
    threadCpuNs().map { case (id, t) => t - c0.getOrElse(id, 0L) }.sum / 1e6

  /** Milliseconds one core takes for a fixed integer workload (median of
    * five): a reading of host speed, reported beside the metrics so that
    * drift between runs can be told apart from changes in the engine. */
  def hostCalibrationMs(): Double = median(Seq.fill(5) {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  })

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * anchored once so differences are monotonic within a run. */
  private val anchorWallMs = System.currentTimeMillis().toDouble
  private val anchorNanos = System.nanoTime()
  def wallMs(): Double = anchorWallMs + (System.nanoTime() - anchorNanos) / 1e6

  // ---- JSON (flat, hand-written: the harness emits only numbers,
  // strings, booleans, sequences and maps) ----
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(json).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---- order-insensitive result checksum ----
  private def norm(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  /** `rows:hash` where hash is the wrapping 64-bit sum of a per-row hash,
    * so the value does not depend on row order or partitioning. */
  def checksum(schema: String, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = norm(r)
      val h = (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x1234).toLong & 0xffffffffL)
      sum += h
    }
    f"${rows.length}%d:${MurmurHash3.stringHash(schema)}%08x:$sum%016x"
  }
}
