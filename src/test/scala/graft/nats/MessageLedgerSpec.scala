package graft.nats

import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's orphaned buffer-test intents
  * (reference src/batch_buffer_test.rs:7-130, never compiled there —
  * SURVEY §5.1) onto the ledger/admission-control shape, plus the
  * enforced-overflow behavior the reference only intended (§2.C3).
  */
class MessageLedgerSpec extends AnyFunSuite {

  private def ledger(batch: Int = 3, timeoutMs: Long = 1000, cap: Int = 10) =
    new MessageLedger[String](LedgerConfig(batch, timeoutMs, cap))

  test("size-based flush: batch admitted exactly when batchSize rows arrive") {
    val l = ledger(batch = 3)
    l.append("a"); l.append("b")
    assert(l.admit(0, nowMs = 0) === 0)      // 2 < 3, no timeout yet
    l.append("c")
    assert(l.admit(0, nowMs = 1) === 3)      // full batch
    assert(l.rowsBetween(0, 3).toSeq === Seq("a", "b", "c"))
  }

  test("timeout-based flush: partial batch admitted after silence") {
    val l = ledger(batch = 100, timeoutMs = 50)
    l.append("a"); l.append("b")
    assert(l.admit(0, nowMs = 0) === 0)      // starts the policy clock
    assert(l.admit(0, nowMs = 49) === 0)     // not yet
    assert(l.admit(0, nowMs = 50) === 2)     // partial flush at timeout
    assert(l.rowsBetween(0, 2).toSeq === Seq("a", "b"))
  }

  test("no empty batches: offset never advances with nothing buffered") {
    val l = ledger(batch = 3, timeoutMs = 10)
    assert(l.admit(0, nowMs = 0) === 0)
    assert(l.admit(0, nowMs = 1000) === 0)   // timeout passed but zero rows
  }

  test("overflow is enforced: rows past maxBufferSize dropped and counted") {
    val l = ledger(batch = 100, cap = 5)
    val accepted = (1 to 8).map(i => l.append(s"m$i"))
    assert(accepted.count(identity) === 5)
    assert(l.droppedRows === 3)
    assert(l.bufferedCount === 5)
    assert(l.endOffset === 5)
    // trimming frees capacity again
    l.trim(2)
    assert(l.append("m9"))
    assert(l.endOffset === 6)
  }

  test("multi-batch remainder: oversize backlog drains batchSize at a time") {
    val l = ledger(batch = 3, timeoutMs = 50, cap = 100)
    (1 to 7).foreach(i => l.append(s"m$i"))
    val e1 = l.admit(0, nowMs = 0)
    assert(e1 === 3)
    val e2 = l.admit(e1, nowMs = 1)
    assert(e2 === 6)                          // second full batch, no timeout needed
    assert(l.admit(e2, nowMs = 2) === 6)      // 1 row left, below size, no timeout
    val e3 = l.admit(e2, nowMs = 60)
    assert(e3 === 7)                          // remainder flushed on timeout
    assert(l.rowsBetween(6, 7).toSeq === Seq("m7"))
  }

  test("trim releases memory and guards replay below base") {
    val l = ledger(batch = 2, cap = 100)
    (1 to 4).foreach(i => l.append(s"m$i"))
    assert(l.rowsBetween(0, 2).toSeq === Seq("m1", "m2"))
    l.trim(2)
    assert(l.bufferedCount === 2)
    assert(l.endOffset === 4)                 // offsets stay monotone
    assert(l.rowsBetween(2, 4).toSeq === Seq("m3", "m4"))
    intercept[IllegalArgumentException](l.rowsBetween(0, 2))
  }

  test("concurrent appends never lose or duplicate accepted rows") {
    val l = new MessageLedger[String](LedgerConfig(1000, 1000, 100000))
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 1000).foreach(i => l.append(s"$t-$i")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(l.endOffset === 8000)
    val all = l.rowsBetween(0, 8000)
    assert(all.length === 8000)
    assert(all.toSet.size === 8000)
  }
}
