package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** graft's functions reach every session through the classpath extension
  * provider alone. The session here is built like perfbench's: a plain
  * builder, with no `withExtensions` and nothing registered by hand.
  * `getOrCreate` only logs a failing provider, so a broken provider would
  * drop every function silently; these tests are what catches it.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val text = "The quick brown fox jumps over the lazy dog\nthe quick brown fox"
  private val u = UTF8String.fromString(text)
  private def longs(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
    a.toLongArray().toSeq

  test("all graft functions resolve through the extensions path") {
    val names = Seq("cosine_similarity", "graft_dist2", "graft_dot",
      "graft_simhash32", "graft_minhash_sig", "graft_shingle_hashes",
      "graft_lsh_buckets", "graft_text_counts", "graft_span_hashes",
      "graft_line_hashes", "graft_bigram_hashes", "graft_trigram_hashes",
      "graft_char_entropy", "graft_nfc", "graft_html_text",
      "graft_minhash_agg", "graft_gram_hashes", "graft_bottomk_distinct")
    assert(names.filterNot(spark.catalog.functionExists) === Nil)
    assert(GraftFunctions.table.map(_._1.funcName).sorted === names.sorted)
  }

  test("the scalar functions evaluate to their kernels' results") {
    spark.sql(s"SELECT '${text.replace("\n", "\\n")}' AS t").createOrReplaceTempView("doc")
    val row = spark.sql(
      """SELECT
        |  cosine_similarity(array(cast(1.0 as float), cast(0.0 as float)),
        |                    array(cast(1.0 as float), cast(0.0 as float))),
        |  graft_dist2(array(1.0D, 2.0D), array(1.0D, 0.0D)),
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)),
        |  graft_simhash32(t),
        |  graft_minhash_sig(t),
        |  graft_shingle_hashes(t),
        |  size(graft_lsh_buckets(array(cast(0.5 as float)))),
        |  graft_text_counts(t),
        |  graft_span_hashes(t),
        |  graft_line_hashes(t),
        |  graft_bigram_hashes(t),
        |  graft_trigram_hashes(t),
        |  graft_char_entropy(t),
        |  graft_nfc(t),
        |  graft_html_text('<p>hi <b>there</b></p>'),
        |  graft_gram_hashes(t, 5)
        |FROM doc""".stripMargin).collect()(0)
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getDouble(1) === 4.0)
    assert(row.getDouble(2) === 11.0)
    assert(row.getLong(3) === Sketches.simhash32(u))
    assert(row.getSeq[Long](4) === longs(Sketches.minhashSig(u)))
    assert(row.getSeq[Long](5) === longs(Sketches.shingleHashes(u)))
    assert(row.getInt(6) === Sketches.TABLES)
    assert(row.getSeq[Long](7) === longs(Sketches.textCounts(u)))
    assert(row.getSeq[Long](8) === longs(Sketches.spanHashes(u)))
    assert(row.getSeq[Long](9) === longs(Sketches.lineHashes(u)))
    assert(row.schema(10).dataType === BigramHashes(Literal(text)).dataType)
    assert(!row.isNullAt(10))
    assert(row.getSeq[Long](11) === longs(Sketches.trigramHashes(u)))
    assert(row.getDouble(12) === Sketches.charEntropy(u))
    assert(row.getString(13) === Sketches.nfc(u).toString)
    assert(row.getString(14) ===
      Sketches.htmlText(UTF8String.fromString("<p>hi <b>there</b></p>")).toString)
    assert(row.getSeq[Long](15) === longs(Sketches.gramHashes(u, 5)))
  }

  test("the aggregates resolve and evaluate") {
    val agg = spark.sql(
      "SELECT size(graft_minhash_agg(h)) FROM VALUES (1L), (2L) AS t(h)")
      .collect()(0).getInt(0)
    assert(agg === Sketches.K)
    val bottom = spark.sql(
      "SELECT graft_bottomk_distinct(h, 2) FROM VALUES (5L), (1L), (3L), (1L) AS t(h)")
      .collect()(0).getSeq[Long](0)
    assert(bottom.sorted === Seq(1L, 3L))
  }

  test("DESCRIBE FUNCTION shows the usage text of the vector functions") {
    def described(name: String): String =
      spark.sql(s"DESCRIBE FUNCTION EXTENDED $name").collect().map(_.getString(0)).mkString("\n")
    assert(described("cosine_similarity").contains("cosine similarity of two float vectors"))
    assert(described("graft_dist2").contains("squared L2 distance of two double vectors"))
    assert(described("graft_dot").contains("dot product of two double vectors"))
  }

  test("wrong arity fails with a clear error, not an index exception") {
    val e = intercept[Exception](spark.sql("SELECT cosine_similarity(array(cast(1.0 as float)))").collect())
    assert(!e.isInstanceOf[IndexOutOfBoundsException])
    assert(e.getMessage.contains("cosine_similarity expects 2 arguments, got 1"))
  }
}
