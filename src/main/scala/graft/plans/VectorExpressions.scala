package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over `array<float>` /
  * `array<double>` columns.
  *
  * The `functions.aggregate`/`zip_with` higher-order formulation (see
  * [[graft.functions.VectorFunctions]]) allocates a lambda frame per
  * element and never enters whole-stage codegen; these expressions compile
  * to a tight primitive loop inside the generated code — the difference is
  * ~an order of magnitude on pair-join similarity workloads, which is what
  * makes brute-force and LSH ANN viable at scale.
  *
  * Accumulation is a sequential left-to-right fold in double — bit-for-bit
  * the same result as the higher-order version and as DuckDB's
  * list_dot_product, so correctness oracles are unaffected.
  */
abstract class ArrayPairFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemAccessor(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "getFloat"
    case _ => "getDouble"
  }

  protected def elemAt(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case ArrayType(FloatType, _) => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft vector expressions need array<float|double> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }
}

/** `graft_dot(a, b)` — Σ a_i·b_i in double; null if lengths differ. */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends ArrayPairFold {

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      var sum = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        sum += elemAt(a, left.dataType, i) * elemAt(b, right.dataType, i)
        i += 1
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) = (elemAccessor(left.dataType), elemAccessor(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $sum += ((double) $a.$ga($i)) * ((double) $b.$gb($i));
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** `graft_sqdist(a, b)` — Σ (a_i−b_i)² in double; null if lengths differ.
  * Replaces the ScalaUDF distance-to-centroid in the anomaly scorer: the
  * UDF was a codegen black box in the flagship scoring plan (serialization
  * boundary per row); this compiles into the generated stage. */
case class ArraySquaredDistance(left: Expression, right: Expression)
    extends ArrayPairFold {

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      var sum = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val d = elemAt(a, left.dataType, i) - elemAt(b, right.dataType, i)
        sum += d * d
        i += 1
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) = (elemAccessor(left.dataType), elemAccessor(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $d = ((double) $a.$ga($i)) - ((double) $b.$gb($i));
         |    $sum += $d * $d;
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sqdist"
}

/** `graft_cosine(a, b)` — dot/(‖a‖·‖b‖) computed in ONE traversal (the
  * higher-order formulation needs three). Same fold order ⇒ same bits. */
case class ArrayCosineSimilarity(left: Expression, right: Expression)
    extends ArrayPairFold {

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (a.numElements() != b.numElements()) null
    else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = elemAt(a, left.dataType, i)
        val y = elemAt(b, right.dataType, i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) = (elemAccessor(left.dataType), elemAccessor(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = (double) $a.$ga($i);
         |    final double $y = (double) $b.$gb($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** Registration: imperative (any session) or via SparkSessionExtensions. */
object VectorExpressions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => ArrayDotProduct(args(0), args(1))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[ArrayCosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => ArrayCosineSimilarity(args(0), args(1))),
    (FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[ArraySquaredDistance].getName, "graft_sqdist"),
      (args: Seq[Expression]) => ArraySquaredDistance(args(0), args(1))),
    (FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "graft_intersect_size"),
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))),
    (FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomKeyMightContain].getName, "graft_bloom_might_contain"),
      BloomKeyMightContain.fromArgs _),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalizeExpr(args(0))),
    (FunctionIdentifier("graft_damerau"),
      new ExpressionInfo(classOf[DamerauLevenshteinExpr].getName, "graft_damerau"),
      (args: Seq[Expression]) => DamerauLevenshteinExpr(args(0), args(1))))

  /** Idempotently install the native functions on an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `graft_intersect_size(a, b)` — |a ∩ b| for two SORTED, de-duplicated
  * string arrays, as one merge walk: O(n+m), zero allocation — replaces
  * `size(array_intersect(...))`, which builds a hash set per row pair.
  * Caller contract: inputs from `sort_array(array_distinct(...))`. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_size needs array<string> inputs, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (la, lb) = (a.numElements(), b.numElements())
    // ascending sort places null elements first; array_intersect keeps a
    // null once when both sides contain one
    var i = 0
    var j = 0
    while (i < la && a.isNullAt(i)) i += 1
    while (j < lb && b.isNullAt(j)) j += 1
    var n = if (i > 0 && j > 0) 1 else 0
    while (i < la && j < lb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val la = ctx.freshName("la")
      val lb = ctx.freshName("lb")
      s"""
         |int $i = 0; int $j = 0;
         |final int $la = $a.numElements();
         |final int $lb = $b.numElements();
         |while ($i < $la && $a.isNullAt($i)) { $i++; }
         |while ($j < $lb && $b.isNullAt($j)) { $j++; }
         |int $n = ($i > 0 && $j > 0) ? 1 : 0;
         |while ($i < $la && $j < $lb) {
         |  final int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $n++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_intersect_size"
}
