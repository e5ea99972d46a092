package graft.nats

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Options for `format("nats")`, defaults mirroring the reference's
  * BatchBufferConfig (reference src/batch_buffer.rs:22-28).
  */
final case class NatsOptions(
    url: String,
    subject: String,
    batchSize: Int,
    flushTimeoutMs: Long,
    maxBufferSize: Int,
    stopAtRows: Option[Long],
    collectTimeoutMs: Long,
    numPartitions: Int,
    queueGroup: Option[String] = None,
    queueSubscribers: Int = 2,
    maxBatchesPerTrigger: Int = 1,
    replay: Boolean = false,
    startSequence: Long = -1L,
    partitionBySubject: Boolean = false,
    codec: String = "csv",
    inferSamples: Int = 16,
    inferTimeoutMs: Long = 2000L,
    includeMetadata: Boolean = false,
    deadLetterSubject: Option[String] = None,
    msgIdColumn: Option[String] = None,
    subjectColumn: Option[String] = None,
    publishBatchRows: Int = 500,
    tlsTruststore: Option[String] = None,
    tlsTruststorePassword: String = "changeit") extends Serializable {

  /** Per-source TLS trust in [[NatsTransport.connect]]'s shape. Unlike
    * the `-Dgraft.nats.tls.truststore` fallback this serializes with the
    * options, so executor-side connections (partition readers, the
    * dead-letter publisher, sink writers) get the same trust on a real
    * multi-JVM cluster, not just in local mode. */
  def tls: Option[(String, String)] = tlsTruststore.map((_, tlsTruststorePassword))
}

object NatsOptions {
  def from(options: CaseInsensitiveStringMap): NatsOptions = {
    def req(k: String): String = {
      val v = options.get(k)
      if (v == null || v.isEmpty)
        throw new IllegalArgumentException(s"format(\"nats\") requires option '$k'")
      v
    }
    def positive(k: String, default: Int): Int = {
      val n = options.getInt(k, default)
      require(n >= 1, s"format(\"nats\") option '$k' must be >= 1, got $n")
      n
    }
    val subject = req("subject")
    NatsOptions(
      url = req("url"),
      subject = subject,
      batchSize = positive("batchSize", 1000),
      flushTimeoutMs = options.getLong("flushTimeoutMs", 1000L),
      maxBufferSize = positive("maxBufferSize", 10000),
      stopAtRows = Option(options.get("stopAtRows")).map(_.toLong),
      collectTimeoutMs = options.getLong("collectTimeoutMs", 5000L),
      numPartitions = options.getInt("numPartitions", 1),
      queueGroup = Option(options.get("queueGroup")).filter(_.nonEmpty),
      queueSubscribers = options.getInt("queueSubscribers", 2),
      // 1 = reference parity (one RecordBatch per poll); raise to drain a
      // deep backlog at transport speed (Kafka's maxOffsetsPerTrigger
      // analog) — batchSize stays the decode/batch granularity.
      maxBatchesPerTrigger = options.getInt("maxBatchesPerTrigger", 1),
      // replay=true switches the stream from fire-and-forget push to a
      // PULL consumer over the transport's retention window (JetStream
      // analog): offsets become broker sequences and checkpoint restart
      // is supported. startSequence: -1 = latest-at-start (default),
      // 0 = everything still retained, N = resume after sequence N.
      replay = options.getBoolean("replay", false),
      startSequence = options.getLong("startSequence", -1L),
      // With a wildcard subject family, keep each concrete subject's rows
      // together and fan decode out one-subject-per-partition (up to
      // numPartitions) — parallelism follows subject cardinality while
      // per-subject ordering survives.
      partitionBySubject = options.getBoolean("partitionBySubject", false),
      // Wire format of each message payload: "csv" (reference parity,
      // src/codec/csv.rs) or "json" (one flat object per message — the
      // other format NATS tooling emits by default). Same strictness
      // either way; see PayloadCodec.
      codec = Option(options.get("codec")).getOrElse("csv"),
      // inferSchema=true sampling knobs (SchemaInference): how many
      // payloads to sample, and how long a LIVE sampling subscription may
      // wait for them (retention-capable transports sample retained
      // payloads instead and never wait).
      inferSamples = options.getInt("inferSamples", 16),
      inferTimeoutMs = options.getLong("inferTimeoutMs", 2000L),
      // includeMetadata=true appends the envelope columns (_subject,
      // _seq) to the table's reported schema as ordinary columns — for
      // schema-explicit pipelines (SELECT *, DDL paths). The hidden
      // SupportsMetadataColumns surface works on BOTH batch and
      // streaming reads without it (streaming scans always carry the
      // envelope at trailing ordinals; see NatsScanBuilder).
      includeMetadata = options.getBoolean("includeMetadata", false),
      // A10's design note made operational: skip-and-count stays the
      // error policy, and each skipped payload is ALSO republished to
      // this subject with the parse error in its headers (Graft-Error /
      // Graft-Source-Subject / Graft-Source-Seq) — the NATS-native
      // quarantine queue. Must be a literal subject the source's own
      // subscription cannot match, or malformed payloads would loop.
      deadLetterSubject =
        Option(options.get("deadLetterSubject")).filter(_.nonEmpty).map { dl =>
          NatsSubjects.validateSubject(dl)
          require(!InMemoryBus.subjectMatches(subject, dl),
            s"deadLetterSubject '$dl' is matched by the source subject " +
              s"'$subject': republished malformed payloads would loop back " +
              "into the stream")
          dl
        },
      // Sink-only: this STRING column's value is published as the
      // `Nats-Msg-Id` header (and excluded from the payload) so a
      // retained/JetStream stream stores retried publishes once — the
      // NATS-native idempotent-producer upgrade over fire-and-forget
      // at-least-once. Reads ignore it.
      msgIdColumn = Option(options.get("msgIdColumn")).filter(_.nonEmpty),
      // Sink-side content-based routing: the named STRING column is each
      // row's target subject (the NATS subject-hierarchy pattern, e.g.
      // "docs.en"/"docs.de" consumed back via "docs.*"); it is routing
      // metadata, not data — excluded from the payload like msgIdColumn.
      subjectColumn = Option(options.get("subjectColumn")).filter(_.nonEmpty),
      // Sink-only: rows buffered per writer task before one pipelined
      // publish (and one TCP flush) — a flush per row caps the sink at
      // the syscall rate. 1 = the old per-row behavior.
      publishBatchRows = positive("publishBatchRows", 500),
      // TLS trust for a `nats://` broker advertising tls_required, as a
      // SOURCE OPTION so it rides the serialized scan to every executor
      // (a driver-set -Dgraft.nats.tls.truststore only works single-JVM).
      tlsTruststore = Option(options.get("tlsTruststore")).filter(_.nonEmpty),
      tlsTruststorePassword =
        Option(options.get("tlsTruststorePassword")).getOrElse("changeit"))
  }
}

/** Skip-malformed-keep-streaming counters (reference error policy,
  * src/executor.rs:140-144: a bad row is reported and consumption
  * continues). Keyed by "url/subject"; readable from tests and ops code.
  * In local mode (one JVM) counts are global-exact; on a cluster each
  * executor counts its own share and the counter is cumulative across
  * queries sharing (url, subject) — the AUTHORITATIVE per-query count is
  * the scan's DSv2 custom metric ([[MalformedRowsMetric]]), which Spark
  * sums from executor task metrics through the accumulator machinery and
  * surfaces per scan in the SQL UI / `SparkPlan.metrics`.
  */
object NatsMetrics {
  private val malformed = new ConcurrentHashMap[String, LongAdder]()
  def malformedCounter(url: String, subject: String): LongAdder =
    malformed.computeIfAbsent(s"$url/$subject", _ => new LongAdder)
  def malformedCount(url: String, subject: String): Long =
    malformedCounter(url, subject).sum()

  /** Replay reader connections opened (one per InputPartition on the
    * executor side — test/ops instrumentation for the offsets-only
    * ingest contract: payload bytes never route through the driver). */
  private[nats] val replayReaderConnections = new LongAdder
}

/** DSv2 custom metric: per-task malformed-payload counts, summed on the
  * driver by Spark's metric framework — correct on a real multi-executor
  * cluster and scoped to one query, unlike the JVM-static convenience
  * counter above (ADVICE r10 #2). */
final class MalformedRowsMetric extends CustomSumMetric {
  override def name(): String = MalformedRowsMetric.Name
  override def description(): String =
    "payloads rejected by the strict codec (skip-and-count error policy)"
}
object MalformedRowsMetric {
  val Name = "malformedRows"
  def taskMetric(value0: => Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = MalformedRowsMetric.Name
    override def value(): Long = value0
  }
}

/** DataSource V2 provider: `spark.read[Stream].format("nats")` — the Spark
  * analog of the reference's `NatsDataSource` TableProvider
  * (reference src/data_source.rs:35-71). The schema is user-declared by
  * default; `option("inferSchema", "true")` turns on payload-driven
  * inference (SchemaInference) — the feature the reference ADVERTISES
  * (README.md:9) but left as a TODO (README.md:17).
  */
class NatsSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "nats"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (!options.getBoolean("inferSchema", false))
      throw new IllegalArgumentException(
        "format(\"nats\") requires an explicit .schema(...) — or set " +
          ".option(\"inferSchema\", \"true\") to infer one from a bounded " +
          "sample of payloads (see also inferSamples / inferTimeoutMs)")
    val opts = NatsOptions.from(options)
    val payloads =
      SchemaInference.sample(opts.url, opts.subject, opts.inferSamples, opts.inferTimeoutMs, opts.tls)
    SchemaInference.infer(opts.codec, payloads)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = NatsOptions.from(new CaseInsensitiveStringMap(properties))
    // Validates the 6-type whitelist / name rules at registration time,
    // like the reference's codec-construction check (src/codec/csv.rs:48-91).
    PayloadCodec.strict(opts.codec, schema)
    new NatsTable(schema, opts)
  }
}

/** The source's hidden metadata columns (DSv2 `SupportsMetadataColumns`,
  * the Kafka-source analog of topic/partition/offset). Not part of the
  * user-declared data schema — they resolve by name in a projection
  * (`df.select($"id", $"_subject")`) and are dropped automatically by
  * Spark when a data column shadows the name.
  *
  *   - `_subject`: the CONCRETE subject each row's message was published
  *     on — the only way to tell family members apart under a wildcard
  *     subscription (`regions.*`);
  *   - `_seq`: the row's source sequence — the broker sequence in replay
  *     mode (stable across restarts), the ledger offset on a live stream,
  *     arrival order (1-based) on a live one-shot batch read;
  *   - `_headers`: the message's NATS headers (HPUB/HMSG extension) as a
  *     string map, empty when the message carried none. Retained under
  *     replay: the memory bus stores them, and the JetStream pull
  *     delivers them as HMSG.
  */
object NatsMetadata {
  val SubjectCol = "_subject"
  val SeqCol = "_seq"
  val HeadersCol = "_headers"
  val names: Set[String] = Set(SubjectCol, SeqCol, HeadersCol)

  private def column(colName: String, colType: DataType, doc: String): MetadataColumn =
    new MetadataColumn {
      override def name: String = colName
      override def dataType: DataType = colType
      override def isNullable: Boolean = false
      override def comment: String = doc
    }

  val columns: Array[MetadataColumn] = Array(
    column(SubjectCol, StringType,
      "concrete NATS subject the message was published on"),
    column(SeqCol, LongType,
      "source sequence: broker sequence (replay), ledger offset (stream), arrival order (one-shot batch)"),
    column(HeadersCol, MapType(StringType, StringType, valueContainsNull = false),
      "NATS message headers (HPUB/HMSG); empty map when none (retained under replay)"))
}

/** One NATS subject as a table (reference src/data_source.rs:19-32).
  * Readable (reference parity) AND writable (beyond parity — the
  * reference has no write path at all, SURVEY §2.B sinks row; a real
  * pipeline needs the symmetric publish side).
  */
final class NatsTable(schema: StructType, opts: NatsOptions)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns {
  override def metadataColumns(): Array[MetadataColumn] = NatsMetadata.columns
  override def name(): String = s"nats:${opts.subject}"
  // includeMetadata=true surfaces the envelope as ordinary reported
  // columns (appended after the data schema; a user data column that
  // already claims the name wins). The hidden SupportsMetadataColumns
  // variant above co-exists — on a name conflict Spark drops the hidden
  // one automatically.
  override def schema(): StructType =
    if (!opts.includeMetadata) schema0
    else StructType(schema0.fields ++
      NatsMetadata.columns.filterNot(m => schema0.fieldNames.contains(m.name))
        .map(m => org.apache.spark.sql.types.StructField(m.name, m.dataType, nullable = false)))
  private def schema0 = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NatsScanBuilder(schema0, schema(), opts)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    PayloadCodec.strict(opts.codec, info.schema()) // same registration-time validation as reads
    new WriteBuilder {
      override def build(): Write = new NatsWrite(info.schema(), opts)
    }
  }
}

/** Publish rows to the subject as codec-encoded CSV payloads. Semantics
  * are core-NATS: fire-and-forget, at-least-once under task retry (no
  * transactional commit exists on a bus) — commit/abort are no-ops and a
  * replayed task republishes. Each writer task owns one connection.
  * `msgIdColumn` upgrades retry semantics to idempotent-at-the-stream:
  * republished rows carry the same `Nats-Msg-Id` and JetStream-style
  * retention stores them once (live core-NATS subscribers still see
  * every publish — dedup is a stream-ingest property, as on a real
  * server).
  */
final class NatsWrite(schema: StructType, opts: NatsOptions) extends Write {
  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      NatsWriterFactory(schema, opts)
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
  override def toStreaming: StreamingWrite = new StreamingWrite {
    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
      NatsWriterFactory(schema, opts)
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }
}

/** Ships to executors: must be a standalone Serializable (factories are
  * task-serialized; an inner class would drag a non-serializable outer). */
private final case class NatsWriterFactory(schema: StructType, opts: NatsOptions)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new NatsRowWriter(schema, opts)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new NatsRowWriter(schema, opts)
}

private object NatsWriteCommit extends WriterCommitMessage

final class NatsRowWriter(schema: StructType, opts: NatsOptions)
    extends DataWriter[InternalRow] {
  // msgIdColumn: the named STRING column becomes the Nats-Msg-Id header
  // (JetStream ingest dedup — task retries republish with the same ids
  // and the stream stores them once); it is identity metadata, not data,
  // so it is excluded from the encoded payload. Misuse fails at writer
  // construction, before any row is published.
  private val msgIdIdx: Option[Int] = opts.msgIdColumn.map { c =>
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"msgIdColumn '$c' is not a column of the written " +
      s"schema ${schema.fieldNames.mkString("[", ", ", "]")}")
    require(schema.fields(i).dataType == StringType,
      s"msgIdColumn '$c' must be STRING, got ${schema.fields(i).dataType.simpleString}")
    i
  }
  // subjectColumn: the named STRING column routes each row to its own
  // subject (content-based routing — the NATS subject-hierarchy idiom).
  // Routing metadata, not data: excluded from the payload; the scan-side
  // `subject` option stays the table identity / consumer-side pattern.
  private val subjIdx: Option[Int] = opts.subjectColumn.map { c =>
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"subjectColumn '$c' is not a column of the written " +
      s"schema ${schema.fieldNames.mkString("[", ", ", "]")}")
    require(schema.fields(i).dataType == StringType,
      s"subjectColumn '$c' must be STRING, got ${schema.fields(i).dataType.simpleString}")
    require(!msgIdIdx.contains(i),
      s"subjectColumn '$c' and msgIdColumn must be different columns")
    i
  }
  private val payloadFields: Array[Int] =
    schema.indices.filterNot(i => msgIdIdx.contains(i) || subjIdx.contains(i)).toArray
  private val codec = PayloadCodec.strict(opts.codec,
    StructType(payloadFields.map(schema.fields)))
  private val conn = NatsTransport.connect(opts.url, opts.tls)
  // Encoded rows buffered up to publishBatchRows, then published as one
  // pipelined run (one TCP flush) per target subject. Unflushed rows
  // publish at commit(); abort() discards them — already-flushed rows
  // stay at-least-once, as before (fire-and-forget has no transactional
  // take-back).
  private val pending =
    scala.collection.mutable.ArrayBuffer.empty[(String, Seq[(String, String)], Array[Byte])]

  private def flushPending(): Unit = if (pending.nonEmpty) {
    // One pipelined batch per target subject; within-subject publish
    // order is preserved (NATS ordering is per subject — cross-subject
    // interleaving carries no semantics).
    pending.groupBy(_._1).foreach { case (subj, rows) =>
      conn.publishBatch(subj, rows.iterator.map(r => (r._2, r._3)))
    }
    pending.clear()
  }

  override def write(row: InternalRow): Unit = {
    val values = new Array[Any](payloadFields.length)
    var i = 0
    while (i < payloadFields.length) {
      val f = payloadFields(i)
      values(i) = row.get(f, schema.fields(f).dataType)
      i += 1
    }
    codec.encode(values) match {
      case Right(payload) =>
        val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val headers = msgIdIdx match {
          case Some(idx) =>
            require(!row.isNullAt(idx),
              s"msgIdColumn '${opts.msgIdColumn.get}' is NULL: every row " +
                "needs a message id for idempotent publish")
            Seq(NatsSubjects.MsgIdHeader -> row.getUTF8String(idx).toString)
          case None => Nil
        }
        val subj = subjIdx match {
          case Some(idx) =>
            require(!row.isNullAt(idx),
              s"subjectColumn '${opts.subjectColumn.get}' is NULL: every " +
                "row needs a target subject for routed publish")
            val s0 = row.getUTF8String(idx).toString
            // Data-driven subjects are interpolated into the transport's
            // 'PUB <subject> ...' control line, so the gate is strict:
            // printable ASCII only (control chars — \r\n especially —
            // would inject protocol framing), no wildcards/spaces (those
            // are subscribe-side syntax), no empty dot-tokens (ADVICE
            // r14: 'docs.' must fail HERE with the subjectColumn
            // message, not later in the transport or not at all on the
            // memory bus).
            require(s0.nonEmpty &&
              s0.forall(c => c >= 0x21 && c <= 0x7e && c != '*' && c != '>') &&
              !s0.split("\\.", -1).exists(_.isEmpty),
              s"subjectColumn value '$s0' is not a publishable literal " +
                "subject: tokens must be non-empty printable-ASCII " +
                "literals (wildcards/spaces are subscribe-side syntax; " +
                "control characters would corrupt wire framing)")
            s0
          case None => opts.subject
        }
        pending.append((subj, headers, bytes))
        if (pending.size >= opts.publishBatchRows) flushPending()
      case Left(e) =>
        throw new IllegalArgumentException(
          s"row not encodable as NATS ${opts.codec}: ${e.message}")
    }
  }

  override def commit(): WriterCommitMessage = { flushPending(); NatsWriteCommit }
  override def abort(): Unit = pending.clear()
  override def close(): Unit = conn.close()
}

/** Scan builder with working pushdowns — the part the reference stubs and
  * never wires (dead `RawFilter`, src/raw_filter.rs:7-50; ignored
  * projection, src/data_source.rs:51; SURVEY §2.A7-A8 say do it right):
  *
  *   - filters: the source evaluates every filter it understands *before*
  *     rows cross the scan boundary; all filters are still returned as
  *     residual so Spark re-applies them above (same correctness model as
  *     the parquet source re-checking pushed predicates);
  *   - columns: rows are decoded in full (strict codec validates every
  *     field — error semantics must not depend on projection) but only
  *     required columns are emitted;
  *   - limit: a pushed LIMIT terminates the subscription early — the
  *     reference's A7 intent (src/executor.rs:132-138) made exact.
  */
final class NatsScanBuilder(
    fullSchema: StructType, // the DATA schema (codec fields only)
    reported: StructType, // what the table reports (+ envelope columns when includeMetadata)
    opts: NatsOptions)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {

  // Default to the REPORTED schema plus any hidden metadata columns,
  // appended in declared order: the streaming path builds the scan
  // without calling pruneColumns (no pushdown negotiation in Spark's
  // micro-batch engine), so the un-pruned read must serve the WIDEST
  // output analysis can bind. When a streaming projection references
  // `_subject`/`_seq`, AddMetadataColumns appends the hidden columns
  // after the data schema — exactly the trailing ordinals these rows
  // carry; a plan that never referenced them never reads past the data
  // fields (every operator above the scan re-projects by ordinal).
  // Batch reads negotiate the exact column set via pruneColumns below.
  private var required: StructType = StructType(
    reported.fields ++
      NatsMetadata.columns.filterNot(m => reported.fieldNames.contains(m.name))
        .map(m => org.apache.spark.sql.types.StructField(m.name, m.dataType, nullable = false)))
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(RowFilter.supports(fullSchema, _))
    filters // all residual: Spark re-applies, source-side eval is row reduction
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true // GlobalLimit stays above for exactness

  override def build(): Scan = new NatsScan(fullSchema, required, pushed, limit, opts)
}

final class NatsScan(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    limit: Option[Int],
    opts: NatsOptions) extends Scan {

  override def readSchema(): StructType = required

  override def description(): String = {
    val f = if (filters.isEmpty) "" else s", PushedFilters: [${filters.mkString(", ")}]"
    val l = limit.map(n => s", PushedLimit: $n").getOrElse("")
    s"NatsScan(subject=${opts.subject}$f$l)"
  }

  // One batch per scan: `QueryExecution.executedPlan` plans a clone of the
  // physical plan, whose BatchScanExec asks the scan for its batch and
  // partitions again; a fresh batch would fetch the replay window twice.
  private lazy val batch = new NatsBatch(fullSchema, required, filters, limit, opts)
  override def toBatch: Batch = batch

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new NatsMicroBatchStream(fullSchema, required, filters, opts)

  // Executor task counts propagate through Spark's accumulator machinery
  // and sum per scan — the cluster-correct home for the skip-and-count
  // error policy's tally (the ReportsSourceMetrics map is driver-side and
  // only exact in local mode; see NatsMetrics).
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new MalformedRowsMetric)
}

/** Source-side predicate evaluation over decoded catalyst values — the
  * working version of the reference's dead RawFilter (which ignored the
  * comparison operator entirely, src/raw_filter.rs:32-45).
  */
object RowFilter {
  import org.apache.spark.sql.types._

  def supports(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v)            => comparable(schema, a, v)
    case GreaterThan(a, v)        => comparable(schema, a, v)
    case GreaterThanOrEqual(a, v) => comparable(schema, a, v)
    case LessThan(a, v)           => comparable(schema, a, v)
    case LessThanOrEqual(a, v)    => comparable(schema, a, v)
    case In(a, vs)                => vs.forall(comparable(schema, a, _))
    case IsNotNull(a)             => schema.fieldNames.contains(a)
    case IsNull(a)                => schema.fieldNames.contains(a)
    case And(l, r)                => supports(schema, l) && supports(schema, r)
    case Or(l, r)                 => supports(schema, l) && supports(schema, r)
    case Not(c)                   => supports(schema, c)
    case _                        => false
  }

  private def fieldIndex(schema: StructType, attr: String): Option[Int] = {
    val i = schema.fieldNames.indexOf(attr)
    if (i < 0) None else Some(i)
  }

  private def comparable(schema: StructType, attr: String, v: Any): Boolean =
    fieldIndex(schema, attr).exists { i =>
      (schema.fields(i).dataType, v) match {
        case (IntegerType, _: java.lang.Integer)  => true
        case (DoubleType, _: java.lang.Double)    => true
        case (BooleanType, _: java.lang.Boolean)  => true
        case (StringType, _: String)              => true
        case _                                    => false
      }
    }

  /** Evaluate a pushed filter against a full decoded row. */
  def eval(schema: StructType, row: Array[Any], f: Filter): Boolean = f match {
    case EqualTo(a, v)            => cmp(schema, row, a, v).contains(0)
    case GreaterThan(a, v)        => cmp(schema, row, a, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(schema, row, a, v).exists(_ >= 0)
    case LessThan(a, v)           => cmp(schema, row, a, v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(schema, row, a, v).exists(_ <= 0)
    case In(a, vs)                => vs.exists(v => cmp(schema, row, a, v).contains(0))
    case IsNotNull(_)             => true  // strict codec: no nulls ever (SURVEY §1.2)
    case IsNull(_)                => false
    case And(l, r)                => eval(schema, row, l) && eval(schema, row, r)
    case Or(l, r)                 => eval(schema, row, l) || eval(schema, row, r)
    case Not(c)                   => !eval(schema, row, c)
    case _                        => true // unknown: pass through, Spark re-filters above
  }

  private def cmp(schema: StructType, row: Array[Any], attr: String, lit: Any): Option[Int] =
    fieldIndex(schema, attr).flatMap { i =>
      (row(i), lit) match {
        case (a: java.lang.Integer, b: java.lang.Integer) => Some(a.compareTo(b))
        case (a: java.lang.Double, b: java.lang.Double)   => Some(a.compareTo(b))
        case (a: java.lang.Boolean, b: java.lang.Boolean) => Some(a.compareTo(b))
        // Binary (code-point) order via UTF8String — Java String.compareTo
        // is UTF-16 code-unit order, which disagrees above the BMP; a pushed
        // range filter must not over-drop rows Spark's own ordering keeps.
        case (a: UTF8String, b: String)                   => Some(a.compareTo(UTF8String.fromString(b)))
        case _                                            => None
      }
    }
}

/** Shared row-decode + project + filter pipeline for every read path,
  * and the one place received bytes become text. `required` may include
  * the [[NatsMetadata]] columns — they are filled from the message
  * envelope (subject, sequence, headers), not the payload.
  */
private[nats] final class RowPipeline(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    opts: NatsOptions) extends Serializable {

  private val SubjectIdx = -1
  private val SeqIdx = -2
  private val HeadersIdx = -3

  // Task-local malformed count feeding the scan's DSv2 custom metric
  // (per-query, executor→driver via task metrics); the static NatsMetrics
  // counter is kept as the local-mode/ops convenience surface.
  @transient private var malformedLocal = 0L
  def malformedCount: Long = malformedLocal

  @transient private lazy val codec = PayloadCodec.strict(opts.codec, fullSchema)
  @transient private lazy val outIdx: Array[Int] =
    required.fieldNames.map {
      case NatsMetadata.SubjectCol if !fullSchema.fieldNames.contains(NatsMetadata.SubjectCol) => SubjectIdx
      case NatsMetadata.SeqCol if !fullSchema.fieldNames.contains(NatsMetadata.SeqCol) => SeqIdx
      case NatsMetadata.HeadersCol if !fullSchema.fieldNames.contains(NatsMetadata.HeadersCol) => HeadersIdx
      case n => fullSchema.fieldIndex(n)
    }
  @transient private lazy val emptyHeaders =
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      Array.empty[Any], Array.empty[Any])

  private def headersMap(headers: Seq[(String, String)]) =
    if (headers.isEmpty) emptyHeaders
    else {
      // NATS allows repeated header keys; a Spark map does not. Keep the
      // LAST value per key (first-occurrence order otherwise) so the map
      // stays valid for map_keys/element_at/map_concat downstream.
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      headers.foreach { case (k, v) => m.put(k, v) }
      org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        m.keysIterator.map(UTF8String.fromString).toArray[Any],
        m.valuesIterator.map(UTF8String.fromString).toArray[Any])
    }

  // Dead-letter republish (deadLetterSubject option): lazily opened on
  // the first malformed payload, one connection per task pipeline —
  // executor-local, never the driver. Fire-and-forget like the sink
  // (at-least-once under task retry); the parse error and source
  // envelope ride as NATS headers on the payload bytes as received.
  @transient private var dlConn: NatsConnection = _
  private def deadLetter(subject: String, seq: Long, payload: Array[Byte], err: String): Unit =
    opts.deadLetterSubject.foreach { dl =>
      if (dlConn == null) dlConn = NatsTransport.connect(opts.url, opts.tls)
      dlConn.publish(dl,
        Seq(
          "Graft-Error" -> err.replaceAll("[\r\n]+", " "),
          "Graft-Source-Subject" -> subject,
          "Graft-Source-Seq" -> seq.toString),
        payload)
    }

  /** Release the dead-letter connection, if one was opened. Readers call
    * this from their own close(). */
  def close(): Unit =
    if (dlConn != null) { dlConn.close(); dlConn = null }

  /** None = malformed (counted) or filtered out. `headers` and `payload`
    * are the message as the transport delivered it. */
  def decode(subject: String, seq: Long, headers: Seq[(String, String)],
      payload: Array[Byte]): Option[InternalRow] =
    codec.parse(new String(payload, java.nio.charset.StandardCharsets.UTF_8)) match {
      case Left(err) =>
        malformedLocal += 1
        NatsMetrics.malformedCounter(opts.url, opts.subject).increment()
        deadLetter(subject, seq, payload, err.message)
        None
      case Right(values) =>
        if (filters.forall(RowFilter.eval(fullSchema, values, _))) {
          val out = new Array[Any](outIdx.length)
          var i = 0
          while (i < outIdx.length) {
            out(i) = outIdx(i) match {
              case SubjectIdx => UTF8String.fromString(subject)
              case SeqIdx     => java.lang.Long.valueOf(seq)
              case HeadersIdx => headersMap(headers)
              case j          => values(j)
            }
            i += 1
          }
          Some(new GenericInternalRow(out))
        } else None
    }
}

// ---------------------------------------------------------------------------
// Batch path: the reference's one-shot `SELECT ... FROM nats_table LIMIT n`
// UX (tests/integration_test.rs:53). The reader subscribes at task start and
// collects until the row bound is reached or collectTimeoutMs of wall time
// elapses. Executors connect to the transport directly —
// no driver bottleneck on the data path.
// ---------------------------------------------------------------------------

private final case class NatsBatchPartition(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    rowBound: Long,
    opts: NatsOptions) extends InputPartition

final class NatsBatch(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    limit: Option[Int],
    opts: NatsOptions) extends Batch {

  override def planInputPartitions(): Array[InputPartition] = partitions

  private lazy val partitions: Array[InputPartition] =
    if (opts.replay) replayPartitions()
    else {
      // One partition: a one-shot subscription is inherently a single
      // consumer (parallel scale-out is the streaming path's numPartitions /
      // NATS queue groups, not the one-shot demo path).
      val bound = (limit.map(_.toLong).toSeq ++ opts.stopAtRows.toSeq)
        .reduceOption(_ min _).getOrElse(Long.MaxValue)
      Array(NatsBatchPartition(fullSchema, required, filters, bound, opts))
    }

  /** replay=true batch read: the retained window AS A TABLE — the Kafka
    * batch-read analog (`spark.read.format("kafka")` with offsets), and
    * what "query a JetStream stream" looks like as a DataFrame. Bounded
    * by what retention holds at planning time: no live publisher, no
    * collect timeout, deterministic. startSequence picks the resume
    * point (default: everything still retained).
    *
    * The Kafka-source shape, exactly: planning talks to the transport for
    * METADATA ONLY (earliest/current sequence — two numbers) and emits
    * offsets-only [[NatsReplayPartition]]s; each executor-side reader
    * opens its own transport connection and pulls its range through the
    * retention FETCH protocol. Payload bytes never route through the
    * driver — the 100 TB ingest contract (ADVICE r10 #1, replacing the
    * driver pre-fetch that previously serialized every payload into the
    * partitions). A pushed LIMIT stays exact via Spark's GlobalLimit
    * above the scan (ranges are pre-filter, so the source never
    * truncates below the bound).
    */
  private def replayPartitions(): Array[InputPartition] = {
    val conn = NatsTransport.connect(opts.url, opts.tls)
    try conn match {
      case r: ReplayableNatsConnection =>
        require(!opts.subject.exists(c => c == '*' || c == '>'),
          s"replay requires a literal subject, got '${opts.subject}'")
        val (earliest, current) = r.retainedWindow(opts.subject)
        val after = if (opts.startSequence >= 0) opts.startSequence else earliest - 1
        NatsReplayPartition.slice(after, current - after, fullSchema, required, filters, opts)
      case _ =>
        throw new UnsupportedOperationException(
          s"replay=true needs a retention-capable transport; ${opts.url} is " +
            "fire-and-forget core NATS. Use the memory:// bus here, or NATS " +
            "JetStream (stream + durable consumer) on a real deployment.")
    } finally conn.close()
  }

  override def createReaderFactory(): PartitionReaderFactory = NatsReaderFactory
}

/** The one reader factory of every NATS scan, batch and streaming: each
  * partition type names its reader. */
private object NatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: NatsStreamPartition => new PayloadPartitionReader(p)
      case p: NatsReplayPartition => new NatsReplayReader(p)
      case p: NatsBatchPartition  => new NatsBatchReader(p)
    }
}

/** Collects from a live subscription; early-terminates at the pushed
  * limit / stopAtRows (reference src/executor.rs:132-138, done exactly). */
final class NatsBatchReader(p: NatsBatchPartition) extends PartitionReader[InternalRow] {
  private val pipeline = new RowPipeline(p.fullSchema, p.required, p.filters, p.opts)
  private val queue = new java.util.concurrent.LinkedBlockingQueue[InternalRow]()
  private val accepted = new java.util.concurrent.atomic.AtomicLong(0)
  private val conn = NatsTransport.connect(p.opts.url, p.opts.tls)
  // A live one-shot read has no broker sequence: _seq is the 1-based
  // arrival index of the message on this subscription (malformed or
  // filtered messages still consume an index — it names the message,
  // not the surviving row).
  private val arrivals = new java.util.concurrent.atomic.AtomicLong(0)
  private val deadline = System.nanoTime() + p.opts.collectTimeoutMs * 1000000L
  private val sub = conn.subscribe(p.opts.subject, None) { (subject, headers, payload) =>
    // Count rows AFTER filtering, so a pushed filter + limit means
    // "first n matching rows" — the semantics DataFusion's limit gives
    // the reference. Nothing is accepted past the deadline, so the read
    // ends there with a fixed set of rows left to drain.
    if (accepted.get() < p.rowBound && System.nanoTime() < deadline) {
      pipeline.decode(subject, arrivals.incrementAndGet(), headers, payload)
        .foreach { row =>
          if (accepted.incrementAndGet() <= p.rowBound) queue.put(row)
        }
    }
  }
  private var current: InternalRow = _
  private var emitted = 0L

  override def next(): Boolean = {
    if (emitted >= p.rowBound) return false
    var row: InternalRow = null
    while (row == null && System.nanoTime() < deadline)
      row = queue.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
    // Past the deadline, rows accepted before it still drain without
    // blocking.
    if (row == null) row = queue.poll()
    row != null && { current = row; emitted += 1; true }
  }

  override def get(): InternalRow = current
  override def close(): Unit = { sub.close(); conn.close(); pipeline.close() }
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(MalformedRowsMetric.taskMetric(pipeline.malformedCount))
}

// ---------------------------------------------------------------------------
// Micro-batch streaming path (reference src/executor.rs:44-174 re-shaped
// onto Spark's socket-source pattern): a driver-side subscription feeds the
// MessageLedger; latestOffset applies the flush policy; planned batches ship
// the received messages to executors inside InputPartitions where they are
// decoded in parallel.
// ---------------------------------------------------------------------------

final case class NatsOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

/** One received message as the live ledger holds it and a planned
  * partition ships it: the concrete subject it arrived on, its headers
  * and its payload, all exactly as the transport delivered them. */
private[nats] final case class NatsMessage(
    subject: String,
    headers: Seq[(String, String)],
    payload: Array[Byte])

/** A shipped slice of messages, `seqs(i)` the ledger offset of
  * `messages(i)`. Equal subjects are the SAME string instance (the
  * subscriber reuses the previous message's subject), which Java
  * serialization writes once. */
private final case class NatsStreamPartition(
    messages: Array[NatsMessage],
    seqs: Array[Long],
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    opts: NatsOptions) extends InputPartition

/** Decodes a shipped message slice on the executor — the LIVE-stream
  * path, where the driver-side subscription is the only place the bytes
  * exist (fire-and-forget push; there is nothing to re-fetch from). */
private final class PayloadPartitionReader(p: NatsStreamPartition)
    extends PartitionReader[InternalRow] {
  private val pipeline = new RowPipeline(p.fullSchema, p.required, p.filters, p.opts)
  private val it = p.messages.indices.iterator.flatMap { i =>
    val m = p.messages(i)
    pipeline.decode(m.subject, p.seqs(i), m.headers, m.payload)
  }
  private var current: InternalRow = _
  override def next(): Boolean = it.hasNext && { current = it.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = pipeline.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(MalformedRowsMetric.taskMetric(pipeline.malformedCount))
}

/** Offsets-only replay work unit: `(afterSeq, afterSeq + count]` on the
  * options' literal subject. Carries NO payload bytes — serialized size
  * is O(schema), independent of how many messages the range spans; the
  * reader pulls the bytes itself ([[NatsReplayReader]]). This is the
  * Kafka `KafkaBatchInputPartition` shape (topic-partition + offset
  * range, broker fetch on the executor) applied to the retention
  * protocol. */
private[nats] final case class NatsReplayPartition(
    afterSeq: Long,
    count: Long,
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    opts: NatsOptions) extends InputPartition

private[nats] object NatsReplayPartition {
  /** Split `(after, after + total]` into up to numPartitions contiguous
    * ranges (empty input → no partitions). Contiguity keeps per-range
    * fetches sequential on the broker — the access pattern retention
    * rings and JetStream streams serve fastest. */
  def slice(
      after: Long,
      total: Long,
      fullSchema: StructType,
      required: StructType,
      filters: Array[Filter],
      opts: NatsOptions): Array[InputPartition] =
    if (total <= 0) Array.empty
    else {
      val n = math.max(1, math.min(opts.numPartitions.toLong, total)).toInt
      val base = total / n
      val extra = total % n // first `extra` ranges take one more
      val out = new Array[InputPartition](n)
      var start = after
      var i = 0
      while (i < n) {
        val len = base + (if (i < extra) 1 else 0)
        out(i) = NatsReplayPartition(start, len, fullSchema, required, filters, opts)
        start += len
        i += 1
      }
      out
    }
}

/** Executor-side replay reader: opens its OWN transport connection and
  * pulls the partition's sequence range in batchSize-bounded chunks —
  * memory stays O(chunk), not O(range), and the driver never touches the
  * bytes. Eviction between planning and execution still fails fast
  * (the range fetch throws), now as a task failure carrying the same
  * guidance. */
private[nats] final class NatsReplayReader(p: NatsReplayPartition)
    extends PartitionReader[InternalRow] {
  private val pipeline = new RowPipeline(p.fullSchema, p.required, p.filters, p.opts)
  private val conn: ReplayableNatsConnection = NatsTransport.connect(p.opts.url, p.opts.tls) match {
    case r: ReplayableNatsConnection =>
      NatsMetrics.replayReaderConnections.increment()
      r
    case c =>
      c.close()
      throw new IllegalStateException(
        s"replay partition on ${p.opts.url} but the transport lost its " +
          "retention capability between planning and execution")
  }
  private val endSeq = p.afterSeq + p.count
  private val chunk = math.max(1, p.opts.batchSize)
  // One fetch session for the whole partition — backends with per-fetch
  // setup cost (JetStream: ephemeral consumer creation) pay it once.
  private val session = conn.openRangeFetch(p.opts.subject, p.afterSeq)
  private var cursor = p.afterSeq // last sequence already handed to decode
  private var it: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  @annotation.tailrec
  override final def next(): Boolean =
    if (it.hasNext) { current = it.next(); true }
    else if (cursor >= endSeq) false
    else {
      val want = math.min(chunk.toLong, endSeq - cursor).toInt
      val msgs = session.next(want)
      // The planned range is committed work: retention must still cover
      // it in full, or the fail-fast contract (never silent loss) fires.
      if (msgs.length < want)
        throw new IllegalStateException(
          s"retention on '${p.opts.subject}' ended at sequence " +
            s"${cursor + msgs.length} but this partition was planned " +
            s"through $endSeq: messages were evicted or the broker lost them")
      val from = cursor
      cursor += want
      // Headers come back with each retained message (memory bus and
      // JetStream both retain them); headerless messages yield empty maps.
      it = msgs.iterator.zipWithIndex.flatMap { case ((headers, bytes), i) =>
        pipeline.decode(p.opts.subject, from + 1 + i, headers, bytes)
      }
      next()
    }

  override def get(): InternalRow = current
  override def close(): Unit = { session.close(); conn.close(); pipeline.close() }
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(MalformedRowsMetric.taskMetric(pipeline.malformedCount))
}

final class NatsMicroBatchStream(
    fullSchema: StructType,
    required: StructType,
    filters: Array[Filter],
    opts: NatsOptions) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val conn = NatsTransport.connect(opts.url, opts.tls)

  // replay=true: PULL consumer over the transport's retention window
  // (JetStream analog) — offsets are broker sequences, no push
  // subscription, checkpoint restart supported. Requires a retention-
  // capable transport and a literal subject (a wildcard family has no
  // total sequence order to replay).
  private val replayConn: Option[ReplayableNatsConnection] =
    if (!opts.replay) None
    else conn match {
      case r: ReplayableNatsConnection =>
        require(!opts.subject.exists(c => c == '*' || c == '>'),
          s"replay requires a literal subject, got '${opts.subject}': a wildcard " +
            "family has no single sequence order to resume from")
        Some(r)
      case _ =>
        conn.close()
        throw new UnsupportedOperationException(
          s"replay=true needs a retention-capable transport; ${opts.url} is " +
            "fire-and-forget core NATS. Use the memory:// bus here, or NATS " +
            "JetStream (stream + durable consumer) on a real deployment.")
    }

  private val policy = LedgerConfig(opts.batchSize, opts.flushTimeoutMs, opts.maxBufferSize)
  private val ledger = new MessageLedger[NatsMessage](policy)
  // Ledger appends are synchronized, so N concurrent queue members admit
  // each message exactly once (each message reaches exactly one member).
  // A subject equal to the previous message's reuses that instance, so a
  // planned partition serializes each run of one subject once (a racing
  // queue member at worst stores an equal copy: the field is read once).
  private var lastSubject = ""
  private val onSubjectPayload: (String, Seq[(String, String)], Array[Byte]) => Unit = {
    (subj, headers, payload) =>
      val last = lastSubject
      val s = if (subj == last) last else { lastSubject = subj; subj }
      ledger.append(NatsMessage(s, headers, payload))
      ()
  }
  // Ingest scale-out (ADVICE r4 "What's missing" #2): with queueGroup set,
  // N queue-group members split the subject instead of one subscription
  // serializing it — core-NATS queue semantics, so the same option works
  // against a real broker where members spread across consumer processes.
  // (Replay mode pulls from retention instead: no subscription at all.)
  if (opts.partitionBySubject)
    require(!opts.replay && opts.queueGroup.isEmpty,
      "partitionBySubject is the wildcard-family fan-out: it applies to a " +
        "plain push subscription (not replay, which requires a literal " +
        "subject, and not queueGroup, which already shards upstream)")
  private val subs: Seq[NatsSubscription] =
    if (opts.replay) Seq.empty
    else opts.queueGroup match {
      case Some(g) =>
        (1 to math.max(1, opts.queueSubscribers))
          .map(_ => conn.subscribe(opts.subject, Some(g))(onSubjectPayload))
      case None => Seq(conn.subscribe(opts.subject, None)(onSubjectPayload))
    }
  private var admitted = 0L
  // Replay bookkeeping: the resolved start sequence (-1 until the first
  // poll) and the flush-policy clock for partial-batch admission.
  private var replayStart = -1L
  private var replayLastAdmitMs = Long.MinValue
  // Trigger.AvailableNow: the backlog bound snapshotted at prepare time
  // (-1 = continuous mode). Batches keep draining toward it batch-by-
  // batch; when admitted reaches it, latestOffset stops advancing and
  // the query self-terminates — "process everything available, stop",
  // the run-it-hourly production pattern.
  @volatile private var availableNowCap = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = replayConn match {
      case Some(r) => r.currentSeq(opts.subject)
      case None    => ledger.endOffset
    }
  // Highest offset ever handed back by deserializeOffset — on a restart
  // from an existing checkpoint this arrives before the fresh ledger has
  // seen any rows, and is the signal the checkpoint is not resumable.
  @volatile private var restoredOffset = 0L

  /** Rows the transport delivered but the enforced buffer cap rejected. */
  def droppedRows: Long = ledger.droppedRows

  private def failIfNotResumable(checkpointed: Long): Unit =
    if (checkpointed > ledger.endOffset)
      throw new IllegalStateException(
        s"Checkpointed offset $checkpointed is ahead of this source's ledger " +
          s"(end ${ledger.endOffset}): the NATS source is fire-and-forget and a " +
          "restarted query cannot re-read past messages (SURVEY §7.4.1), so " +
          "restart from an existing checkpoint would silently misalign offsets. " +
          "Start the query with a fresh checkpointLocation.")

  /** Resolve where a replay consumer begins: a checkpointed offset wins
    * (restart), else the user's startSequence, else latest-at-start.
    * Fail fast when that position was already evicted — silent loss is
    * exactly what replay mode exists to prevent. */
  private def resolveReplayStart(r: ReplayableNatsConnection): Long = {
    val (earliest, current) = r.retainedWindow(opts.subject)
    if (replayStart < 0) {
      replayStart =
        if (restoredOffset > 0) restoredOffset // checkpoint resume
        else if (opts.startSequence >= 0) opts.startSequence
        else current // default: latest-at-start
    }
    // Spark calls initialOffset on restart too — BEFORE the offset log is
    // replayed through deserializeOffset — so a checkpoint restored after
    // first resolution must override it, or `admitted` regresses below
    // the committed position and committed rows get re-fetched.
    if (restoredOffset > replayStart) replayStart = restoredOffset
    admitted = math.max(admitted, replayStart)
    // The NEXT row to fetch (not the historical start: that falls out of
    // the ring on any long-running query) must still be retained.
    if (admitted + 1 < earliest)
      throw new IllegalStateException(
        s"start sequence ${admitted + 1} on '${opts.subject}' is beyond the " +
          s"retention window (earliest retained: $earliest): the messages " +
          "between checkpoint and retention were evicted; restart with a " +
          "fresh checkpointLocation (accepting the gap) or raise retention")
    replayStart
  }

  // In replay mode the FIRST batch must begin at the resolved start
  // sequence, not 0 — otherwise Spark's first plan spans [0, start] and
  // replays history a latest-at-start consumer asked to skip.
  override def initialOffset(): Offset = synchronized {
    replayConn match {
      case Some(r) => NatsOffset(resolveReplayStart(r))
      case None    => NatsOffset(0)
    }
  }

  /** Replay-mode admission: the ledger's flush policy, but over broker
    * sequences pulled from retention, advancing from the start offset
    * SPARK hands us (authoritative). */
  private def replayLatestOffset(r: ReplayableNatsConnection, from: Long): NatsOffset = {
    if (replayStart < 0) replayStart = from // restart path: never saw initialOffset
    admitted = math.max(admitted, from)
    val now = System.currentTimeMillis()
    if (replayLastAdmitMs == Long.MinValue) replayLastAdmitMs = now
    val target =
      if (availableNowCap >= 0) math.min(r.currentSeq(opts.subject), availableNowCap)
      else r.currentSeq(opts.subject)
    var adm = policy.admittable(target - admitted, opts.maxBatchesPerTrigger,
      partialDue = availableNowCap >= 0 || now - replayLastAdmitMs >= opts.flushTimeoutMs)
    // stopAtRows counts rows THIS query consumed, so the cap is relative
    // to where the replay started.
    opts.stopAtRows.foreach(cap => adm = math.min(adm, replayStart + cap - admitted))
    if (adm > 0) replayLastAdmitMs = now
    admitted += math.max(0L, adm)
    NatsOffset(admitted)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The admission-control variant (SupportsAdmissionControl) — Spark
    * passes the start offset it will actually plan the next batch from,
    * checkpoint-restored included. Deriving the end from THAT (instead of
    * an internal counter) is what makes restart safe: a first poll that
    * raced ahead of checkpoint restoration once produced an end BELOW the
    * committed position, which Spark then chained into an overlapping
    * batch — a duplicated row (caught by NatsReplaySpec's restart test).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val from = start.asInstanceOf[NatsOffset].count
    replayConn match {
      case Some(r) => replayLatestOffset(r, from)
      case None =>
        // Fail fast rather than return an offset below a checkpointed commit —
        // Spark would otherwise plan empty/regressed batches forever.
        failIfNotResumable(math.max(from, restoredOffset))
        admitted = math.max(admitted, from)
        var end =
          if (availableNowCap >= 0)
            // bounded run: drain toward the prepared snapshot, final
            // partial included, no flush wait
            admitted + policy.admittable(availableNowCap - admitted,
              opts.maxBatchesPerTrigger, partialDue = true)
          else ledger.admit(admitted, System.currentTimeMillis(), opts.maxBatchesPerTrigger)
        // stopAtRows reproduces the reference's LIMIT-terminated demo semantics
        // for streams (SURVEY §7.4.5): the offset simply stops advancing.
        opts.stopAtRows.foreach(cap => end = math.min(end, cap))
        admitted = math.max(admitted, end)
        NatsOffset(admitted)
    }
  }

  // Legacy no-arg variant: Spark routes through the admission-control
  // overload above; direct (test) callers advance from internal state.
  override def latestOffset(): Offset =
    latestOffset(NatsOffset(synchronized(admitted)), ReadLimit.allAvailable())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[NatsOffset].count
    val e = end.asInstanceOf[NatsOffset].count
    // Replay mode ships offsets only: the committed range becomes
    // numPartitions-sliced NatsReplayPartitions and each executor reader
    // pulls its own slice from retention (seq = broker sequence) — no
    // payload bytes on the driver, and eviction between planning and
    // execution still fails fast, now executor-side. Live reads have no
    // re-fetchable store, so they ship the ledger's buffered messages
    // (seq = ledger offset).
    if (replayConn.isDefined)
      return NatsReplayPartition.slice(s, e - s, fullSchema, required, filters, opts)
    failIfNotResumable(s)
    val msgs: Array[(NatsMessage, Long)] =
      ledger.rowsBetween(s, e).zipWithIndex.map { case (m, i) => (m, s + 1 + i) }
    def partition(slice: Array[(NatsMessage, Long)]): NatsStreamPartition =
      NatsStreamPartition(slice.map(_._1), slice.map(_._2), fullSchema, required, filters, opts)
    if (msgs.isEmpty) Array.empty
    else if (opts.partitionBySubject) {
      // Wildcard-family fan-out: group the batch's rows by the concrete
      // subject each arrived on, then hand WHOLE subjects to partitions —
      // decode parallelism follows subject cardinality (up to
      // numPartitions) and per-subject arrival order survives, the
      // property count-sliced chunks can't give an interleaved family.
      val bySubject = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(NatsMessage, Long)]]
      msgs.foreach { m =>
        bySubject.getOrElseUpdate(m._1.subject,
          scala.collection.mutable.ArrayBuffer.empty[(NatsMessage, Long)])
          .append(m)
      }
      val n = math.max(1, math.min(opts.numPartitions, bySubject.size))
      bySubject.values.grouped(math.ceil(bySubject.size.toDouble / n).toInt)
        .map(groups => partition(groups.flatten.toArray))
        .toArray[InputPartition]
    } else {
      // Parity default is the reference's single partition
      // (src/data_source.rs:59); numPartitions > 1 slices the batch for
      // parallel decode on executors — the scale path.
      val n = math.max(1, math.min(opts.numPartitions, msgs.length))
      msgs.grouped(math.ceil(msgs.length.toDouble / n).toInt)
        .map(partition)
        .toArray[InputPartition]
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = NatsReaderFactory

  override def commit(end: Offset): Unit =
    // Replay mode holds no ledger rows — eviction is the ring's capacity
    // policy, exactly like a JetStream limits-based stream.
    if (replayConn.isEmpty) ledger.trim(end.asInstanceOf[NatsOffset].count)

  override def deserializeOffset(json: String): Offset = {
    val count = json.toLong
    if (count > restoredOffset) restoredOffset = count
    NatsOffset(count)
  }

  /** Per-trigger source metrics, surfaced in StreamingQueryProgress
    * (`progress.sources[i].metrics`) — what an operator actually watches
    * on a long-running ingest: the skip-and-count error policy's tally,
    * rows the enforced buffer cap rejected, and how far the consumer is
    * behind what the transport has (backlog = un-admitted rows in the
    * ledger, or retained-but-unfetched sequences under replay).
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] = {
    val consumed = if (latestConsumedOffset.isPresent)
      latestConsumedOffset.get.asInstanceOf[NatsOffset].count
    else 0L
    val backlog = replayConn match {
      case Some(r) => math.max(0L, r.currentSeq(opts.subject) - math.max(consumed, admitted))
      case None    => math.max(0L, ledger.endOffset - math.max(consumed, admitted))
    }
    val m = new util.HashMap[String, String]()
    m.put("malformedRows", NatsMetrics.malformedCount(opts.url, opts.subject).toString)
    m.put("droppedRows", ledger.droppedRows.toString)
    m.put("backlogRows", backlog.toString)
    m
  }

  override def stop(): Unit = { subs.foreach(_.close()); conn.close() }
}
