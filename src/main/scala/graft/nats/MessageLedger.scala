package graft.nats

/** Ingest buffer configuration, mirroring the reference's
  * BatchBufferConfig defaults (reference src/batch_buffer.rs:22-28).
  *
  * @param batchSize      max rows admitted into one micro-batch (ref batch_size)
  * @param flushTimeoutMs admit a partial batch once this much time has
  *                       passed since the last admission (ref batch_timeout_ms)
  * @param maxBufferSize  hard cap on buffered-but-unconsumed rows. The
  *                       reference declares 10,000 but never enforces it
  *                       (SURVEY §2.C3); here it is real: `append` refuses
  *                       rows past the cap and counts them as dropped.
  */
final case class LedgerConfig(
    batchSize: Int = 1000,
    flushTimeoutMs: Long = 1000L,
    maxBufferSize: Int = 10000) {
  require(batchSize > 0, s"batchSize must be >= 1, got $batchSize")
  require(maxBufferSize > 0, s"maxBufferSize must be >= 1, got $maxBufferSize")

  /** The flush policy (reference should_create_batch,
    * src/batch_buffer.rs:73-86), as a pure function: how many of the
    * `available` rows to admit into the next batch. Full batches go as
    * soon as they exist — up to `maxBatches` of them per trigger (the
    * parity default is one RecordBatch per poll; more lets a deep backlog
    * drain at transport speed, Kafka's maxOffsetsPerTrigger analog). A
    * partial batch goes only when `partialDue` — the flush timeout has
    * passed since the last admission, or the run is bounded
    * (Trigger.AvailableNow), where waiting would only delay termination.
    * Otherwise nothing: no empty batches. Shared by the live ledger and
    * the replay consumer. */
  def admittable(available: Long, maxBatches: Int, partialDue: Boolean): Long = {
    val fullBatches = math.min(available / batchSize, math.max(1, maxBatches).toLong)
    if (fullBatches > 0) fullBatches * batchSize
    else if (available > 0 && partialDue) available
    else 0L
  }
}

/** Driver-side, thread-safe, offset-indexed message ledger — the Spark analog
  * of the reference's BatchBuffer + flush policy (src/batch_buffer.rs:41-209)
  * re-shaped for the micro-batch model (Spark's socket-source pattern):
  *
  *   - the NATS subscriber thread `append`s messages as they arrive;
  *   - the MicroBatchStream calls `admit` from `latestOffset` — the flush
  *     policy (size OR timeout, src/batch_buffer.rs:73-86) decides whether
  *     a new batch is declared and how many rows it may contain;
  *   - `rowsBetween(start, end)` snapshots a planned batch's messages so
  *     they can ride to executors inside InputPartitions;
  *   - `trim(committedOffset)` releases memory once Spark commits a batch.
  *
  * Offsets are cumulative accepted-message counts, monotone for the life
  * of the ledger. Messages are buffered as received; decoding happens in
  * the executor-side PartitionReader so parse work scales out with tasks.
  *
  * Overflow policy: drop-newest with a counter (`droppedRows`). A streaming
  * source must not block its transport callback, and dropping the newest
  * keeps already-admitted offsets stable. This is the enforced version of
  * the reference's declared-but-dead max_buffer_size intent
  * (src/batch_buffer_test.rs:78-100).
  */
final class MessageLedger[A: scala.reflect.ClassTag](config: LedgerConfig) {
  // base = offset of rows.head; rows holds [base, base + rows.size)
  private var base = 0L
  private val rows = scala.collection.mutable.ArrayDeque.empty[A]
  private var dropped = 0L
  private var lastAdmitMs = Long.MinValue

  /** Append one message; false (and counted) when the buffer is full. */
  def append(message: A): Boolean = synchronized {
    if (rows.size >= config.maxBufferSize) { dropped += 1; false }
    else { rows.append(message); true }
  }

  /** Total rows ever accepted = the offset one past the newest row. */
  def endOffset: Long = synchronized { base + rows.size }

  /** Rows accepted but not yet trimmed (current memory footprint). */
  def bufferedCount: Int = synchronized { rows.size }

  def droppedRows: Long = synchronized { dropped }

  /** Flush-policy admission ([[LedgerConfig.admittable]]) from
    * `fromOffset`: declare the next batch end, timing a partial batch
    * from the last admission. batchSize stays the batch granularity (the
    * reference's batch_size is RecordBatch size, and its executor
    * consumes every batch its channel holds, src/executor.rs:74-130).
    */
  def admit(fromOffset: Long, nowMs: Long, maxBatches: Int = 1): Long = synchronized {
    if (lastAdmitMs == Long.MinValue) lastAdmitMs = nowMs // policy clock starts at first poll
    val admitted = config.admittable(base + rows.size - fromOffset, maxBatches,
      partialDue = nowMs - lastAdmitMs >= config.flushTimeoutMs)
    if (admitted > 0) lastAdmitMs = nowMs
    fromOffset + admitted
  }

  /** Snapshot messages in [start, end) for executor shipment. */
  def rowsBetween(start: Long, end: Long): Array[A] = synchronized {
    require(start >= base, s"offset $start already trimmed (base $base)")
    val hi = math.min(end, base + rows.size)
    if (hi <= start) Array.empty
    else rows.slice((start - base).toInt, (hi - base).toInt).toArray
  }

  /** Release rows below `upTo` after Spark commits the batch. */
  def trim(upTo: Long): Unit = synchronized {
    val n = math.min(math.max(upTo - base, 0L), rows.size.toLong).toInt
    rows.dropInPlace(n)
    base += n
  }
}
