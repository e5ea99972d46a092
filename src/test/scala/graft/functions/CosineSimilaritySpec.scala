package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class CosineSimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def makeDf(rows: Seq[(Seq[Float], Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("a", "b")
  }

  test("matches the zip_with/aggregate fold bit-for-bit on random vectors") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = makeDf(rows)
    val dbl = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast(DoubleType))
    val fold = (c: org.apache.spark.sql.Column) => aggregate(c, lit(0.0), (acc, x) => acc + x)
    val both = df.select(
      expr("cosine_similarity(a, b)").as("native"),
      (fold(zip_with(dbl(col("a")), dbl(col("b")), (x, y) => x * y)) /
        (sqrt(fold(zip_with(dbl(col("a")), dbl(col("a")), (x, y) => x * y))) *
          sqrt(fold(zip_with(dbl(col("b")), dbl(col("b")), (x, y) => x * y))))).as("folded"))
      .collect()
    both.foreach { r =>
      // bit-identical, not approximately equal: same IEEE sequence
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("graft_dot / (nu * nw) is bit-identical to cosine_similarity with precomputed norms (round 22)") {
    // The scoring-leg rewrite's exact claim: with nu/nw the stored
    // sqrt(left-to-right Σx²) folds, dot/(nu*nw) reproduces the cosine
    // kernel bit-for-bit — same accumulation order, same division
    // operand order.
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val dbl = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast(DoubleType))
    val fold = (c: org.apache.spark.sql.Column) => aggregate(c, lit(0.0), (acc, x) => acc + x)
    val both = makeDf(rows)
      .select(dbl(col("a")).as("ad"), dbl(col("b")).as("bd"))
      .withColumn("na", sqrt(fold(zip_with(col("ad"), col("ad"), (x, y) => x * y))))
      .withColumn("nb", sqrt(fold(zip_with(col("bd"), col("bd"), (x, y) => x * y))))
      .select(
        expr("cosine_similarity(ad, bd)").as("cosk"),
        (expr("graft_dot(ad, bd)") / (col("na") * col("nb"))).as("dotn"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // edge semantics mirror the cosine kernel: empty -> NaN, null
    // element -> null, length mismatch -> NaN
    import spark.implicits._
    val edge = Seq(
      (Seq.empty[Double], Seq.empty[Double]),
      (Seq(1.0, 2.0), Seq(3.0))).toDF("x", "y")
      .select(expr("graft_dot(x, y)").as("d")).collect()
    assert(edge.forall(r => r.getDouble(0).isNaN))
    val nullElem = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](2.0, 3.0)))
      .toDF("x", "y").select(expr("graft_dot(x, y)").as("d")).collect()
    assert(nullElem(0).isNullAt(0))
  }

  test("interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val a = Array(0.5f, -0.25f, 0.125f)
    val b = Array(0.1f, 0.2f, 0.3f)
    val lit1 = Literal(ArrayData.toArrayData(a), ArrayType(FloatType))
    val lit2 = Literal(ArrayData.toArrayData(b), ArrayType(FloatType))
    val interpreted = CosineSimilarity(lit1, lit2).eval(null).asInstanceOf[Double]
    val viaDf = makeDf(Seq((a.toSeq, b.toSeq)))
      .select(expr("cosine_similarity(a, b)")).collect()(0).getDouble(0)
    assert(java.lang.Double.doubleToLongBits(interpreted) ===
      java.lang.Double.doubleToLongBits(viaDf))
    // sanity: hand-computed value (1e-6 tolerance — the expression sees
    // float-rounded inputs, the hand calc uses exact decimal doubles)
    val dot = (0.5 * 0.1) + (-0.25 * 0.2) + (0.125 * 0.3)
    assert(math.abs(interpreted - dot / (math.sqrt(0.5 * 0.5 + 0.25 * 0.25 + 0.125 * 0.125) * math.sqrt(0.1 * 0.1 + 0.2 * 0.2 + 0.3 * 0.3))) < 1e-6)
  }

  test("empty and mismatched arrays yield NaN, not an error") {
    val df = makeDf(Seq((Seq.empty[Float], Seq.empty[Float]), (Seq(1f, 2f), Seq(1f))))
    val got = df.select(expr("cosine_similarity(a, b)")).collect().map(_.getDouble(0))
    assert(got.forall(_.isNaN))
  }

  test("null elements null-propagate exactly like the zip_with/aggregate fold form") {
    import spark.implicits._
    // array<float> with containsNull=true: one clean row, one with a null element
    val df = Seq(
      (Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f), Some(4f))),
      (Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(3f), Some(4f))))
      .toDF("a", "b")
    val dbl = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast(DoubleType))
    val fold = (c: org.apache.spark.sql.Column) => aggregate(c, lit(0.0), (acc, x) => acc + x)
    val got = df.select(
      expr("cosine_similarity(a, b)").as("native"),
      (fold(zip_with(dbl(col("a")), dbl(col("b")), (x, y) => x * y)) /
        (sqrt(fold(zip_with(dbl(col("a")), dbl(col("a")), (x, y) => x * y))) *
          sqrt(fold(zip_with(dbl(col("b")), dbl(col("b")), (x, y) => x * y))))).as("folded"))
      .collect()
    assert(!got(0).isNullAt(0) && !got(0).isNullAt(1))
    assert(got(0).getDouble(0) === got(0).getDouble(1))
    // a null element makes BOTH forms null — not a silent 0.0 contribution
    assert(got(1).isNullAt(0), "native must be null on a null element")
    assert(got(1).isNullAt(1), "fold form must be null on a null element")
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val withNull = Literal.create(
      new GenericArrayData(Array[Any](1.0f, null)), ArrayType(FloatType, containsNull = true))
    val clean = Literal.create(
      new GenericArrayData(Array[Any](3.0f, 4.0f)), ArrayType(FloatType, containsNull = true))
    assert(CosineSimilarity(withNull, clean).eval(null) === null)
  }

  test("identical vectors give cosine 1.0") {
    val v = Seq(0.3f, -0.7f, 0.2f, 0.9f)
    val got = makeDf(Seq((v, v))).select(expr("cosine_similarity(a, b)"))
      .collect()(0).getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
