package graft.nats

import java.util.UUID

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Where a read stops: the one-shot reader's collect deadline, and the
  * `stopAtRows` cap on live and replay stream offsets. */
class NatsReadBoundsSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://bounds-" + UUID.randomUUID()

  private def options(url: String, subject: String) =
    NatsOptions(url, subject, batchSize = 2, flushTimeoutMs = 0L,
      maxBufferSize = 10000, stopAtRows = None, collectTimeoutMs = 5000L,
      numPartitions = 1)

  /** Poll latestOffset until two polls in a row agree. */
  private def settledOffset(stream: NatsMicroBatchStream): Long = {
    var prev = -1L
    var cur = stream.latestOffset().asInstanceOf[NatsOffset].count
    while (cur != prev) {
      prev = cur
      cur = stream.latestOffset().asInstanceOf[NatsOffset].count
    }
    cur
  }

  test("one-shot reader: rows accepted before the collect deadline are still returned after it") {
    val url = freshBus()
    val opts = options(url, "late").copy(collectTimeoutMs = 200L)
    val reader = new NatsBatchReader(
      NatsBatchPartition(schema, schema, Array.empty, Long.MaxValue, opts))
    val conn = NatsTransport.connect(url)
    try {
      // the memory bus delivers on the publishing thread: all 3 rows are
      // accepted before the sleep starts
      (1 to 3).foreach(i => conn.publish("late", s"$i,r$i".getBytes))
      Thread.sleep(300)
      val ids = Iterator.continually(reader.next()).takeWhile(identity)
        .map(_ => reader.get().getInt(0)).toList
      assert(ids === List(1, 2, 3))
    } finally { reader.close(); conn.close() }
  }

  test("one-shot reader: rows published after the collect deadline are not returned") {
    val url = freshBus()
    val opts = options(url, "after").copy(collectTimeoutMs = 200L)
    val reader = new NatsBatchReader(
      NatsBatchPartition(schema, schema, Array.empty, Long.MaxValue, opts))
    val conn = NatsTransport.connect(url)
    try {
      (1 to 3).foreach(i => conn.publish("after", s"$i,r$i".getBytes))
      Thread.sleep(300)
      // one more message lands (on this thread) after every row read: a
      // reader still accepting past its deadline would never run dry
      var n = 3
      val ids = Iterator.continually(reader.next()).takeWhile(identity).take(50)
        .map { _ =>
          n += 1
          conn.publish("after", s"$n,r$n".getBytes)
          reader.get().getInt(0)
        }.toList
      assert(ids === List(1, 2, 3))
    } finally { reader.close(); conn.close() }
  }

  test("one-shot reader: a subject published faster than it is read ends at the collect deadline") {
    val url = freshBus()
    val opts = options(url, "busy").copy(collectTimeoutMs = 200L)
    val conn = NatsTransport.connect(url)
    // ~40 rows per millisecond in, at most ~20 per millisecond read out
    // (50 us per row): a reader that kept accepting past its deadline
    // would never find its queue empty
    @volatile var publishing = true
    val publisher = new Thread(() => {
      var i = 0
      while (publishing) {
        (1 to 40).foreach { _ => i += 1; conn.publish("busy", s"$i,r$i".getBytes) }
        Thread.sleep(1)
      }
    })
    val reader = new NatsBatchReader(
      NatsBatchPartition(schema, schema, Array.empty, Long.MaxValue, opts))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      publisher.start()
      val read = pool.submit(() => {
        var rows = 0L
        while (reader.next()) {
          rows += 1
          java.util.concurrent.locks.LockSupport.parkNanos(50000L)
        }
        rows
      })
      val rows = read.get(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(rows > 0L)
    } finally {
      publishing = false
      publisher.join(5000)
      pool.shutdownNow()
      reader.close(); conn.close()
    }
  }

  test("stopAtRows: a live stream's offset stops at the cap") {
    val url = freshBus()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      options(url, "capped").copy(stopAtRows = Some(5L)))
    val conn = NatsTransport.connect(url)
    try {
      (1 to 8).foreach(i => conn.publish("capped", s"$i,r$i".getBytes))
      assert(settledOffset(stream) === 5L)
      (9 to 12).foreach(i => conn.publish("capped", s"$i,r$i".getBytes))
      assert(settledOffset(stream) === 5L, "later rows must not move a capped offset")
    } finally { stream.stop(); conn.close() }
  }

  test("stopAtRows: a replay stream's offset stops at the cap past its start sequence") {
    val url = freshBus() + "?retain=100"
    val conn = NatsTransport.connect(url)
    (1 to 10).foreach(i => conn.publish("capped", s"$i,r$i".getBytes))
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      options(url, "capped").copy(replay = true, startSequence = 3L, stopAtRows = Some(4L)))
    try {
      assert(stream.initialOffset().asInstanceOf[NatsOffset].count === 3L)
      assert(settledOffset(stream) === 7L, "3 (start) + 4 (cap)")
      (11 to 14).foreach(i => conn.publish("capped", s"$i,r$i".getBytes))
      assert(settledOffset(stream) === 7L, "later rows must not move a capped offset")
    } finally { stream.stop(); conn.close() }
  }
}
