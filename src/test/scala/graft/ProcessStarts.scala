package graft

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.scalatest.Assertions._

/** Records the OS processes this JVM starts while a body runs, through a
  * JFR `jdk.ProcessStart` stream.
  */
object ProcessStarts {

  /** The process starts seen while `body` ran. A process started after the
    * body proves the recording delivers: once it arrives, every earlier
    * start has too.
    */
  def during(body: => Unit): Seq[RecordedEvent] = {
    // Spark's ProcfsMetricsGetter runs `getconf PAGESIZE` once per JVM, in
    // its initializer, on the first executor-metrics poll (about the first
    // heartbeat); run it now so it cannot fall inside the recording.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true, classOf[org.apache.spark.SparkContext].getClassLoader)
    val starts = new CopyOnWriteArrayList[RecordedEvent]()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => starts.add(e))
      rs.startAsync()
      body
      val sentinel = new ProcessBuilder("true").start()
      sentinel.waitFor()
      val deadline = System.currentTimeMillis() + 30000
      def sawSentinel = starts.asScala.exists(_.getLong("pid") == sentinel.pid())
      while (!sawSentinel && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(sawSentinel, "the recording never saw the sentinel process start")
      starts.asScala.filterNot(_.getLong("pid") == sentinel.pid()).toSeq
    } finally rs.close()
  }

  /** Each start's command and the top of the stack that started it. */
  def describe(starts: Seq[RecordedEvent]): Seq[String] = starts.map { e =>
    val top = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(12))
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    s"${e.getString("command")} <- ${top.mkString(" <- ")}"
  }
}
