package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** q168's Observation contract: the in-flight audit counters (collected
  * by the CollectMetrics node riding the SAME scan as the gate) must
  * equal independently recomputed values — and conserve input. This is
  * the property that makes observe() trustworthy as the ops layer: a
  * separate audit query could race a changing table; these counters by
  * construction saw exactly the gated rows.
  */
class ObserveGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("q168: in-flight counters equal recomputed values; input conserves") {
    val (gated, obs) = Pipeline.observedQualityGate(spark, sfDir)
    gated.write.format("noop").mode("overwrite").save() // the one action
    val m = obs.get

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nInput = docs.count()
    val nNull = docs.filter(col("text").isNull).count()
    // independent recompute of the kept population (q47's rules)
    val kept = docs.filter(col("text").isNotNull)
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("ws")))
      .withColumn("mtl",
        (col("n_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
      .withColumn("n_stop",
        size(filter(col("ws"), w => w === "the" || w === "a" || w === "of")))
      .withColumn("dr",
        size(array_distinct(col("ws"))).cast(DoubleType) / col("n_tok"))
      .filter(col("n_tok").between(10, 1000) &&
        col("mtl") >= 2 && col("mtl") <= 12 &&
        col("n_stop") >= 1 && col("dr") >= 0.3)
      .count()

    assert(m("n_input") === nInput)
    assert(m("n_null_text") === nNull)
    assert(m("n_kept") === kept)
    assert(m("n_kept").asInstanceOf[Long] + m("n_dropped").asInstanceOf[Long] === nInput,
      "every input row is either kept or dropped")
    // and the gated OUTPUT agrees with the observed kept count
    val outKept = Pipeline.observedQualityGate(spark, sfDir)._1
      .agg(sum(col("n_kept"))).collect()(0).getLong(0)
    assert(outKept === kept)
  }
}
