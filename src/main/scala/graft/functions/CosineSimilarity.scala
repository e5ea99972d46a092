package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst cosine similarity over two `array<float>` columns.
  *
  * Why an Expression and not a UDF: this stays inside whole-stage codegen
  * (the generated loop below is inlined into the stage's Java), avoids
  * per-row serialization to Scala objects, and keeps the surrounding
  * operators codegen-fused — the preference order for extending Spark
  * (custom Expression > Scala UDF, see the project brief / SURVEY §7.5).
  *
  * Semantics are pinned to the composable form used by q42
  * (`aggregate(zip_with(...))`): a single left-to-right summation of
  * x*y, x*x, y*y in double, then dot / (sqrt(na)*sqrt(nb)). Identical
  * IEEE operation sequence → bit-identical results, so both share one
  * DuckDB oracle. Empty or length-mismatched inputs yield NaN (the same
  * 0/0 the fold form produces on empty arrays).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  private def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  // Element accessor per input type (round 21): `array<double>` inputs —
  // the serve/truth legs score double vectors (midpoint queries) — read
  // elements directly; `array<float>` elements widen exactly, so both
  // paths feed the identical double accumulation loop.
  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  // A null *element* yields a null result (see nullSafeEval), so the
  // expression is nullable whenever the element type admits nulls — not
  // only when a whole input can be null.
  override def nullable: Boolean =
    left.nullable || right.nullable ||
      elementsNullable(left.dataType) || elementsNullable(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || n == 0) Double.NaN
    else {
      val lDouble = isDoubleArr(left.dataType)
      val rDouble = isDoubleArr(right.dataType)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        // Null elements null-propagate, matching the fold form
        // (zip_with product of a null is null; the aggregate sum of a
        // null is null) — NOT silently read as 0.0.
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = if (lDouble) x.getDouble(i) else x.getFloat(i).toDouble
        val yv = if (rDouble) y.getDouble(i) else y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      // ev.isNull is a compile-time "false" literal when nullable=false, in
      // which case no null-element branch is emitted (nor needed).
      val nullElementCheck =
        if (nullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      def get(arr: String, idx: String, dbl: Boolean): String =
        if (dbl) s"$arr.getDouble($idx)" else s"(double) $arr.getFloat($idx)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements() || $n == 0) {
         |  ${ev.value} = Double.NaN;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElementCheck
         |    double $xv = ${get(a, i, isDoubleArr(left.dataType))};
         |    double $yv = ${get(b, i, isDoubleArr(right.dataType))};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = ${if (nullable) s"${ev.isNull} ? -1.0 : " else ""}$dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 distance over two `array<double>` columns (round
  * 21, optimization: guide §4.1 "prefer built-ins/codegen over
  * interpreted paths"). Replaces the interpreted
  * `aggregate(zip_with(v, c, (x,y) -> (x-y)*(x-y)), 0.0, +)` fold that
  * the k-means assignment and every PQ encode/LUT leg evaluated per
  * candidate row — a higher-order function runs the lambda per element
  * with no codegen, and Probe measured it as the dominant stage of the
  * graph/IVFPQ harness entries.
  *
  * Semantics are pinned to the fold form (SketchParitySpec): one
  * left-to-right summation of (x-y)*(x-y) in double — the identical
  * IEEE operation sequence, so results are bit-identical and every
  * existing oracle pairing is unchanged. Edge cases match zip_with +
  * aggregate exactly: two empty arrays fold to the 0.0 init; a length
  * mismatch zips a null in (null product, null sum) → null; a null
  * element null-propagates. */
case class Dist2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dist2 expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dist2"

  private def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  // Length mismatch returns null (zip_with pads with null), so the
  // expression is nullable even over non-null inputs.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullElementCheck =
        if (elementsNullable(left.dataType) || elementsNullable(right.dataType))
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElementCheck
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2 =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two `array<double>` columns (round 22,
  * guide §4.1 "reduce per-row work in the hot loop"). The scoring legs
  * of the graph/serve family all read [[java.lang.Math]] pairs off
  * frames that ALREADY carry each vector's precomputed norm
  * (vecsWithNorms / the query panels), yet `cosine_similarity`
  * recomputes Σx² and Σy² per pair — two of its three multiply-adds
  * per element are redundant there. `graft_dot(a, b) / (na * nb)` is
  * bit-identical to `cosine_similarity(a, b)` when na/nb are the
  * precomputed `sqrt(Σx²)` values: the kernel's per-pair
  * `sqrt(na_recomputed)` is the same left-to-right IEEE fold as the
  * stored norm (the established q42/q53 shared-oracle argument), and
  * the division's operand order is unchanged.
  *
  * Edge semantics mirror [[CosineSimilarity]] exactly so the quotient
  * matches in every case: empty or length-mismatched inputs yield NaN
  * (NaN / anything = NaN, as cosine's 0/0); a null element
  * null-propagates. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullable: Boolean =
    left.nullable || right.nullable ||
      elementsNullable(left.dataType) || elementsNullable(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || n == 0) Double.NaN
    else {
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        dot += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      dot
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nullElementCheck =
        if (nullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements() || $n == 0) {
         |  ${ev.value} = Double.NaN;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullElementCheck
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = ${if (nullable) s"${ev.isNull} ? -1.0 : " else ""}$dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
