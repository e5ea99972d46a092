package org.apache.spark.sql.manualclock

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.streaming.runtime.{IncrementalExecution, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.ManualClock

/** A streaming query into a `MemorySink` whose batch timestamps come from a
  * clock the test sets, so two runs of one query can see the same
  * `current_timestamp()` in every batch. The public writer always uses the
  * system clock; `startQuery`'s clock parameter and `ManualClock` are
  * Spark-internal, hence this package. */
final class ManualClockStream(df: DataFrame) {
  private val clock = new ManualClock(0L)
  val sink = new MemorySink()
  val query: StreamingQuery = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    ds.sparkSession.streams.startQuery(None, None, ds, Map.empty, sink, OutputMode.Append(),
      useTempCheckpointLocation = true, trigger = Trigger.ProcessingTime(0L), triggerClock = clock)
  }

  /** Timestamp of every batch planned from now on. Set it before the
    * batch's rows arrive: a trigger reads the clock after it sees data. */
  def setTime(ms: Long): Unit = clock.setTime(ms)

  def lastExecution: IncrementalExecution =
    query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
}

object ManualClockStream {
  /** Janino compiles of generated code so far in this JVM; codegen-cache
    * hits do not count. */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
