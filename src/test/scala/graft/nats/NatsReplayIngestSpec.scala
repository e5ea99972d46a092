package graft.nats

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.util.UUID

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The 100 TB ingest contract for replay mode (ADVICE r10 #1): replay
  * `InputPartition`s carry OFFSETS ONLY — `(afterSeq, count)` plus the
  * schema/options envelope — and each executor-side reader opens its own
  * transport connection and pulls its range through the retention FETCH
  * protocol. Payload bytes never route through the driver, the Kafka-
  * source shape. Also pins the DSv2 custom-metric path for the
  * skip-and-count error policy: per-task malformed counts propagate to
  * the scan's SQL metrics through Spark's accumulator machinery — the
  * surface that stays correct on a real multi-executor cluster, unlike
  * the JVM-static convenience counter.
  */
class NatsReplayIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(retain: Int): String =
    s"memory://ingest-${UUID.randomUUID()}?retain=$retain"

  private def javaSerialize(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.toByteArray
  }

  private def opts(url: String, subject: String, extra: Map[String, String] = Map.empty) = {
    val m = new java.util.HashMap[String, String]()
    m.put("url", url)
    m.put("subject", subject)
    extra.foreach { case (k, v) => m.put(k, v) }
    NatsOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
  }

  test("replay partitions are offsets-only: serialized size is independent of payload volume") {
    val url = freshBus(retain = 5000)
    val conn = NatsTransport.connect(url)
    try {
      val marker = "ZZPAYLOADMARKERZZ"
      // 8 messages first, measure; then 3000 more — a payload-shipping
      // partition would grow ~linearly, an offsets-only one stays flat.
      (1 to 8).foreach(i => conn.publish("big", s"$i,$marker$i".getBytes))
      def partitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
        new NatsBatch(schema, schema, Array.empty[Filter], None,
          opts(url, "big", Map("replay" -> "true", "startSequence" -> "0",
            "numPartitions" -> "4"))).planInputPartitions()
      val small = partitions()
      assert(small.nonEmpty && small.forall(_.isInstanceOf[NatsReplayPartition]))
      val smallMax = small.map(p => javaSerialize(p).length).max
      (9 to 3008).foreach(i => conn.publish("big", s"$i,$marker$i".getBytes))
      val large = partitions()
      assert(large.length === 4)
      val bytes = large.map(javaSerialize)
      val largeMax = bytes.map(_.length).max
      assert(largeMax <= smallMax + 64,
        s"serialized replay partition grew with message count ($smallMax -> $largeMax): " +
          "payloads are being shipped through the driver again")
      // and no payload text is embedded anywhere in the serialized form
      bytes.foreach(b =>
        assert(!new String(b, java.nio.charset.StandardCharsets.ISO_8859_1).contains(marker),
          "payload bytes found inside a serialized replay partition"))
      // the 4 slices cover (0, 3008] contiguously, in order
      val ranges = large.map(_.asInstanceOf[NatsReplayPartition]).map(p => (p.afterSeq, p.count))
      assert(ranges.map(_._2).sum === 3008L)
      assert(ranges.head._1 === 0L)
      ranges.sliding(2).foreach { case Array((a, c), (b, _)) => assert(a + c === b); case _ => () }
    } finally conn.close()
  }

  test("each replay partition reader opens its own fetch connection (memory bus)") {
    val url = freshBus(retain = 1000)
    val conn = NatsTransport.connect(url)
    try {
      (1 to 40).foreach(i => conn.publish("fan", s"$i,row$i".getBytes))
      val before = NatsMetrics.replayReaderConnections.sum()
      val rows = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "fan").option("replay", "true")
        .option("startSequence", "0").option("numPartitions", "4")
        .load()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(rows === (1 to 40))
      assert(NatsMetrics.replayReaderConnections.sum() - before === 4L,
        "expected exactly one executor-side fetch connection per partition")
    } finally conn.close()
  }

  test("readers pull their range in batchSize-bounded chunks, results complete and ordered") {
    val url = freshBus(retain = 1000)
    val conn = NatsTransport.connect(url)
    try {
      (1 to 50).foreach(i => conn.publish("chunks", s"$i,row$i".getBytes))
      // batchSize=7 forces ceil(50/2/7)=4 fetches per partition
      val rows = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "chunks").option("replay", "true")
        .option("startSequence", "0").option("numPartitions", "2")
        .option("batchSize", "7")
        .load()
        .select(col("id"), col("_seq"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(rows === (1 to 50).map(i => (i, i.toLong)),
        "chunked executor-side fetch must reproduce every row with its broker sequence")
    } finally conn.close()
  }

  test("malformedRows propagates per-query through DSv2 custom task metrics") {
    val url = freshBus(retain = 100)
    val conn = NatsTransport.connect(url)
    try {
      conn.publish("strictm", "1,ok".getBytes)
      conn.publish("strictm", "not-a-row".getBytes) // wrong arity
      conn.publish("strictm", "oops,types".getBytes) // id not an int
      conn.publish("strictm", "2,ok".getBytes)
      val df = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "strictm").option("replay", "true")
        .option("startSequence", "0").option("numPartitions", "2")
        .load()
      assert(df.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty, "expected a BatchScanExec in the executed plan")
      val metric = scans.head.metrics.get(MalformedRowsMetric.Name)
      assert(metric.isDefined, "scan must expose the malformedRows custom metric")
      assert(metric.get.value === 2L,
        "per-task malformed counts must sum on the driver via the metric framework")
    } finally conn.close()
  }
}
