package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector kernel (SURVEY.md §4.3).
  *
  * The reference's only vector operation is pgvector's `<=>` cosine
  * distance (reference `src/lib/database.py:301,306,307`), an exact
  * per-row scalar over `vector(1536)`. Here it is a whole-stage-codegen
  * friendly binary expression over `array<float>` / `array<double>`:
  * no boxing, no UDF serialization, stays inside the codegen'd scan →
  * filter → TakeOrderedAndProject pipeline.
  *
  * Accumulation is sequential in element order, in double precision,
  * so results are deterministic and reproducible across partitionings.
  */
private[graft] object VectorKernel {
  /** Element accessor abstracted over float/double arrays. */
  @inline def get(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** pgvector parity: dimension mismatch is an error, never a silent
    * prefix comparison (plausible-but-wrong scores are worse than a
    * failed query). */
  @inline def checkDims(a: ArrayData, b: ArrayData): Unit =
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${a.numElements()} vs ${b.numElements()}")

  def cosineSimilarity(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): Double = {
    checkDims(a, b)
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, aF, i); val y = get(b, bF, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean): Double = {
    checkDims(a, b)
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) { s += get(a, aF, i) * get(b, bF, i); i += 1 }
    s
  }

  def l2Norm(a: ArrayData, aF: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val x = get(a, aF, i); s += x * x; i += 1 }
    math.sqrt(s)
  }
}

private[graft] trait VectorBinaryExpression extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"expected array<float>/array<double>, got $other")
  }

  /** getter snippet for codegen over either element type */
  protected def getter(e: Expression, arr: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>/array<double> inputs, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
}

/** cosine_similarity(a, b) ∈ [-1, 1]; 0.0 when either vector is zero.
  * pgvector parity: `1 - (a <=> b)` (reference `src/lib/database.py:301`). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernel.cosineSimilarity(
      l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw new IllegalArgumentException("vector dimension mismatch: "
         |    + $a.numElements() + " vs " + $b.numElements());
         |int $n = $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getter(left, a, i)};
         |  double $y = ${getter(right, b, i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot_product(a, b) in double precision, sequential accumulation. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernel.dot(
      l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw new IllegalArgumentException("vector dimension mismatch: "
         |    + $a.numElements() + " vs " + $b.numElements());
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (${getter(left, a, i)}) * (${getter(right, b, i)});
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** l2_distance(a, b): Euclidean distance — pgvector's `<->` operator.
  * Accumulates Σ(a_i − b_i)² directly in element order (NOT the
  * |a|²+|b|²−2a·b identity, which cancels catastrophically for nearby
  * vectors and would diverge from an oracle computing the direct
  * form). */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    VectorKernel.checkDims(a, b)
    val (aF, bF) = (elemIsFloat(left), elemIsFloat(right))
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      val d = VectorKernel.get(a, aF, i) - VectorKernel.get(b, bF, i)
      s += d * d; i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |if ($a.numElements() != $b.numElements())
         |  throw new IllegalArgumentException("vector dimension mismatch: "
         |    + $a.numElements() + " vs " + $b.numElements());
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (${getter(left, a, i)}) - (${getter(right, b, i)});
         |  $s += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** l2_norm(a): Euclidean norm in double precision. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernel.l2Norm(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val x = ctx.freshName("x")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $x = $get; $s += $x * $x; }
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** l2_normalize(a) → array<double> with unit norm (zero vector passes through).
  * Array-producing, not on the per-query hot path (ingest-time only) →
  * interpreted eval via CodegenFallback is sufficient. */
case class L2Normalize(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "l2_normalize"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val norm = VectorKernel.l2Norm(a, isFloat)
    val out = new Array[Any](n)
    val inv = if (norm == 0.0) 1.0 else 1.0 / norm
    var i = 0
    while (i < n) { out(i) = VectorKernel.get(a, isFloat, i) * inv; i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** query_vector: the one vector a top-k search compares every row
  * against, as a compact leaf. A `typedLit` of the same array renders
  * all of its elements wherever the plan is printed, and Spark prints
  * the plan at every SQL-execution start and AQE update; this leaf
  * prints as `query_vector(<dim>d#<hash>)` and reaches generated code
  * as one reference object. It reads back exactly the doubles a
  * literal would hold, so every score is bit-identical. Equality and
  * hash compare the array contents, so two searches with one vector
  * are one expression to the optimizer. Not foldable: constant folding
  * would turn it back into the literal. */
case class QueryVector(values: Array[Double]) extends LeafExpression {
  @transient private lazy val data: ArrayData =
    UnsafeArrayData.fromPrimitiveArray(values)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def eval(input: InternalRow): Any = data

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(JavaCode.global(
      ctx.addReferenceObj("queryVector", data, classOf[ArrayData].getName),
      dataType))

  override def equals(other: Any): Boolean = other match {
    case q: QueryVector => java.util.Arrays.equals(values, q.values)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(values)
  override def toString: String = f"query_vector(${values.length}d#$hashCode%08x)"
  override def sql: String = toString
}

/** Column-level API + SQL registration for the vector kernel. */
object VectorFunctions {
  import GraftShim.{column => col, expression => expr}

  def cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(expr(a), expr(b)))
  def cosine_distance(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.lit(1.0) - cosine_similarity(a, b)
  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))
  def l2_distance(a: Column, b: Column): Column = col(L2Distance(expr(a), expr(b)))
  def l2_norm(a: Column): Column = col(L2Norm(expr(a)))
  def l2_normalize(a: Column): Column = col(L2Normalize(expr(a)))
  def query_vector(v: Array[Double]): Column = col(QueryVector(v))

  /** Register as SQL functions on a session (usable from spark.sql). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_similarity", es => CosineSimilarity(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", es => DotProduct(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("l2_norm", es => L2Norm(es.head), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_distance", es => L2Distance(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_normalize", es => L2Normalize(es.head), "built-in")
  }
}
