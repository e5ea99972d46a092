package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Parity gate for the KMV bottom-k-distinct aggregate (round 14): its
  * whole claim is "identical result set to distinct() -> row_number<=k,
  * without the corpus-wide shuffle" (q117's signature step). Pinned here
  * against the exact old formulation — on real fixture shingles and on
  * adversarial in-memory data (heavy duplicates, groups smaller than k,
  * nulls, many partitions so partial-sketch merges actually happen).
  */
class BottomKParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def viaDistinctRank(df: DataFrame, k: Int): Map[String, Seq[Long]] = {
    val w = Window.partitionBy(col("g")).orderBy(col("h"))
    df.filter(col("h").isNotNull).select(col("g"), col("h")).distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .orderBy(col("g"), col("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).toSeq }
  }

  private def viaSketch(df: DataFrame, k: Int): Map[String, Seq[Long]] =
    df.groupBy(col("g")).agg(expr(s"graft_bottomk_distinct(h, $k)").as("hs"))
      .filter(col("hs").isNotNull)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap

  test("matches distinct+rank on real fixture shingle hashes (q117's shape)") {
    val sig = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source").as("g"),
        explode(expr("graft_shingle_hashes(text)")).as("h"))
    assert(viaSketch(sig, 64) === viaDistinctRank(sig, 64))
  }

  test("adversarial duplicates, small groups, nulls, forced partial merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(117)
    val rows =
      // group "dup": 5000 rows over only 40 distinct values (< k and heavy dups)
      Seq.fill(5000)(("dup", java.lang.Long.valueOf(rnd.nextInt(40).toLong))) ++
      // group "wide": 5000 rows over a wide range (> k distinct), with repeats
      Seq.fill(5000)(("wide", java.lang.Long.valueOf(rnd.nextInt(1000).toLong))) ++
      // group "neg": negative and extreme values
      Seq.tabulate(200)(i => ("neg", java.lang.Long.valueOf(Long.MinValue + i))) ++
      // group "nul": only nulls -> aggregate must eval to NULL
      Seq.fill(50)(("nul", null.asInstanceOf[java.lang.Long]))
    val df = rnd.shuffle(rows).toDF("g", "h").repartition(13)
    val k = 64
    assert(viaSketch(df, k) === viaDistinctRank(df, k))
    // the all-null group is absent from both formulations
    assert(!viaSketch(df, k).contains("nul"))
  }

  test("k larger than group cardinality returns every distinct value") {
    import spark.implicits._
    val df = Seq(("a", 3L), ("a", 1L), ("a", 3L), ("a", 2L), ("b", 9L))
      .toDF("g", "h").repartition(7)
    assert(viaSketch(df, 100) === Map("a" -> Seq(1L, 2L, 3L), "b" -> Seq(9L)))
  }

  test("rejects a non-literal or non-positive k") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("g", "h")
    val e = intercept[Exception] {
      df.groupBy("g").agg(expr("graft_bottomk_distinct(h, 0)")).collect()
    }
    assert(e.getMessage.contains("positive"))
    val e2 = intercept[Exception] {
      df.groupBy("g").agg(expr("graft_bottomk_distinct(h, cast(h as int))")).collect()
    }
    assert(e2.getMessage != null)
  }
}
