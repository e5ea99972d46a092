package graft.functions

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId}
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.manualclock.ManualClockStream
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.nats.{NatsDemo, NatsTransport}

/** [[StableBatchTimestamp]] changes what a stream compiles, not what it
  * returns. One `memory://` nats stream runs twice with the same batch
  * timestamps: once as installed, once with the rule excluded through
  * Spark's own `spark.sql.optimizer.excludedRules`.
  */
class StableBatchTimestampSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val zone = ZoneId.of("America/Los_Angeles")
  private val rowsPerBatch = 3
  // Around Los Angeles' 2024 spring-forward (2024-03-10 10:00Z) and fall-back:
  // the first and third fall on an earlier local date than UTC's.
  private val batchTimes = Seq("2024-03-10T07:30:00Z", "2024-03-10T10:30:00Z",
    "2024-03-11T06:59:59.123Z", "2024-11-03T09:15:00Z").map(Instant.parse(_).toEpochMilli)

  private case class Run(
      batches: Seq[Seq[Row]],
      compiles: Seq[Long], // before the first trigger, then after each
      codegen: Seq[String],
      leafInPlan: Boolean)

  private def run(excludeRule: Boolean): Run = {
    val session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", zone.getId)
    if (excludeRule)
      session.conf.set("spark.sql.optimizer.excludedRules", StableBatchTimestamp.ruleName)
    val url = "memory://stable-ts-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    val df = session.readStream.format("nats")
      .schema(StructType(Seq(StructField("id", IntegerType, nullable = false))))
      .option("url", url).option("subject", "ticks")
      .option("batchSize", rowsPerBatch.toString) // full-batch admission: no timer
      .load()
      .selectExpr("id", "current_timestamp() AS ts", "current_date() AS d",
        "localtimestamp() AS lts")
    val stream = new ManualClockStream(df)
    try {
      NatsDemo.awaitSubscriber(url, "ticks")
      val compiles = ArrayBuffer(ManualClockStream.compileCount)
      val batches = ArrayBuffer.empty[Seq[Row]]
      val codegen = ArrayBuffer.empty[String]
      batchTimes.zipWithIndex.foreach { case (t, b) =>
        stream.setTime(t)
        val lastBatch = stream.sink.latestBatchId
        (1 to rowsPerBatch).foreach(i => conn.publish("ticks", s"${b * rowsPerBatch + i}".getBytes))
        stream.query.processAllAvailable()
        compiles += ManualClockStream.compileCount
        assert(stream.sink.latestBatchId !== lastBatch, s"no batch ran for step $b")
        batches += stream.sink.latestBatchData.sortBy(_.getInt(0))
        codegen += codegenString(stream.query)
      }
      val leaf = stream.lastExecution.optimizedPlan.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[BatchTimestampValue])))
      Run(batches.toSeq, compiles.toSeq, codegen.toSeq, leaf)
    } finally { stream.query.stop(); conn.close() }
  }

  private lazy val withRule = run(excludeRule = false)
  private lazy val withoutRule = run(excludeRule = true)

  test("every batch returns the same rows with and without the rule") {
    assert(withRule.batches === withoutRule.batches)
    withRule.batches.zip(batchTimes).zipWithIndex.foreach { case ((rows, t), b) =>
      val at = Instant.ofEpochMilli(t)
      val expected = (1 to rowsPerBatch).map(i => Row(b * rowsPerBatch + i,
        new Timestamp(t), Date.valueOf(LocalDate.ofInstant(at, zone)),
        LocalDateTime.ofInstant(at, zone)))
      assert(rows === expected, s"batch $b")
    }
  }

  test("a steady-state trigger compiles nothing with the rule, and recompiles without it") {
    info(s"compile counter with the rule: ${withRule.compiles.mkString(", ")}; " +
      s"without: ${withoutRule.compiles.mkString(", ")}")
    assert(withRule.leafInPlan && !withoutRule.leafInPlan)
    assert(withRule.compiles.drop(2).distinct.size === 1, withRule.compiles)
    assert(withoutRule.compiles.sliding(2).forall { case Seq(a, b) => b > a },
      withoutRule.compiles)
  }

  test("consecutive batches generate identical whole-stage code only with the rule") {
    assert(withRule.codegen.last.contains("WholeStageCodegen"))
    withRule.codegen.drop(1).sliding(2).foreach { case Seq(a, b) => assert(a === b) }
    assert(withoutRule.codegen(2) !== withoutRule.codegen(3))
  }
}
