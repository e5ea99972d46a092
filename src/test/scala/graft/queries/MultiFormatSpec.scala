package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** SURVEY §2.B scans row: the reference's session can register CSV / JSON /
  * memory tables alongside the NATS table (DataFusion built-ins); Spark's
  * equivalents are spark.read.{csv,json} and createOrReplaceTempView. This
  * spec pins that the same relation round-trips parquet -> csv/json ->
  * DataFrame with identical contents and joins against a memory table in
  * one session — the "everything queryable in the same session" property.
  */
class MultiFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
      .collect().map(_.mkString("|")).toSeq

  test("csv and json round-trip the nation relation bit-for-bit") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val tmp = Files.createTempDirectory("graft-formats").toString
    nation.write.option("header", "true").csv(s"$tmp/nation_csv")
    nation.write.json(s"$tmp/nation_json")
    val viaCsv = spark.read.option("header", "true").schema(nation.schema)
      .csv(s"$tmp/nation_csv")
    val viaJson = spark.read.schema(nation.schema).json(s"$tmp/nation_json")
    assert(canon(viaCsv) === canon(nation))
    assert(canon(viaJson) === canon(nation))
  }

  test("orc round-trips the nation relation bit-for-bit (beyond the SURVEY row: spark-orc is bundled)") {
    // SURVEY §2.B row 1 names CSV/Parquet/JSON/Avro/memory; spark-avro is
    // absent from /opt/spark/jars (documented gap) but ORC is built in —
    // pin it so the multi-format claim is as wide as the environment allows.
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val tmp = Files.createTempDirectory("graft-formats-orc").toString
    nation.write.orc(s"$tmp/nation_orc")
    val viaOrc = spark.read.orc(s"$tmp/nation_orc")
    assert(canon(viaOrc) === canon(nation))
    // ORC predicate pushdown works like parquet's: the filter reaches the scan.
    val plan = viaOrc.filter(col("n_regionkey") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("n_regionkey"),
      s"filter not pushed to ORC scan:\n$plan")
  }

  test("csv, json, parquet, and memory tables join in one session") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val tmp = Files.createTempDirectory("graft-formats2").toString
    nation.write.option("header", "true").csv(s"$tmp/n_csv")
    spark.read.option("header", "true").schema(nation.schema)
      .csv(s"$tmp/n_csv").createOrReplaceTempView("nation_csv")
    spark.read.parquet(s"$sfDir/region.parquet").createOrReplaceTempView("region_pq")
    import spark.implicits._
    Seq((0, "priority"), (1, "standard")).toDF("r_key", "tier")
      .createOrReplaceTempView("tiers_mem") // in-memory table, DataFusion MemTable analog
    val joined = spark.sql(
      """SELECT r.r_name, t.tier, COUNT(*) AS n
        |FROM nation_csv n
        |JOIN region_pq r ON n.n_regionkey = r.r_regionkey
        |JOIN tiers_mem t ON r.r_regionkey % 2 = t.r_key
        |GROUP BY r.r_name, t.tier
        |ORDER BY r.r_name""".stripMargin).collect()
    assert(joined.length === 5) // 5 regions, each in exactly one tier
    assert(joined.map(_.getLong(2)).sum === nation.count())
  }
}
