package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contracts the driver's DuckDB oracle cannot check.
  *
  * q26_approx_agg has no byte-exact oracle (sketch algorithms differ across
  * engines), so its accuracy contract is asserted here instead: the approx
  * aggregates must stay within tolerance of the exact answers the query
  * itself computes alongside them.
  */
class RelationalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.01"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("q26: approx_count_distinct within 5% relative error of exact, per group") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q26_approx_agg")(spark, sfDir)
      .select(col("l_returnflag"), col("approx_parts"))
    // exact companion computed HERE, not in the benched query — q26 itself
    // is the approx-only workload (the sketch exists to avoid the exact
    // distinct's shuffle; benching both would hide that saving)
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("exact_parts"))
    val joined = approx.join(exact, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val flag = r.getString(r.fieldIndex("l_returnflag"))
      val a = r.getLong(r.fieldIndex("approx_parts")).toDouble
      val e = r.getLong(r.fieldIndex("exact_parts")).toDouble
      val relErr = math.abs(a - e) / e
      assert(relErr <= 0.05, s"group $flag: approx=$a exact=$e relErr=$relErr > 5%")
    }
  }

  test("q26: percentile_approx within 1% of the exact percentile, per group") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q26_approx_agg")(spark, sfDir)
      .select(col("l_returnflag"), col("approx_median_price"))
    val exact = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_median_price"))
    val joined = approx.join(exact, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val flag = r.getString(r.fieldIndex("l_returnflag"))
      val a = r.getDouble(r.fieldIndex("approx_median_price"))
      val e = r.getDouble(r.fieldIndex("exact_median_price"))
      val relErr = math.abs(a - e) / e
      assert(relErr <= 0.01, s"group $flag: approx=$a exact=$e relErr=$relErr > 1%")
    }
  }
}
