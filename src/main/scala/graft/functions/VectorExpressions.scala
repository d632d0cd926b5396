package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the reference's scalar vector kernels
  * (SURVEY.md §2.7 F1/F2): codegen'd, null-safe, operating directly on
  * ArrayData with no row materialization.
  */
case class VectorDistance(left: Expression, right: Expression, metric: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    DistanceKernels.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], metric)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DistanceKernels.compute($a, $b, $metric)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a float vector. */
case class VectorNorm(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_norm"

  override def nullSafeEval(a: Any): Any =
    DistanceKernels.norm(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.DistanceKernels.norm($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** binary16 bit pattern (short) -> float32; the scan-time decode for mvec
  * facets (reference f16 semantics, DistanceFunction.java:103-128).
  */
case class F16ToF32(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = FloatType
  override def prettyName: String = "f16_to_f32"

  override def nullSafeEval(a: Any): Any = Half.toFloat(a.asInstanceOf[Short])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Half.toFloat($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon character entropy (nats) of a string — the degenerate-text
  * quality signal, as a NATIVE codegen'd expression: the higher-order-
  * function formulation (array_sort + aggregate lambda) costs one
  * interpreted closure call per character (measured 3 s over the sf0.1
  * corpus); this is a single static-method call inside WholeStageCodegen
  * (0.1 s). Code-point semantics match SQL `substr` (and the oracle's
  * per-character relation); empty input scores 0.0.
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(a: Any): Any =
    EntropyKernel.nats(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.EntropyKernel.nats($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EntropyKernel {
  /** ln(n) − Σ k·ln(k) / n over code-point counts, rounded to 6 — the
    * exact form the q182 oracle recomputes. Counts accumulate in a small
    * hash map; the Σ runs in ascending code-point order (deterministic,
    * engine-internal — cross-engine double-sum order differences are the
    * usual ≤1 ulp the 6-rounding absorbs).
    */
  def nats(s: org.apache.spark.unsafe.types.UTF8String): Double = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n == 0) return 0.0
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val c = counts.get(cp)
      counts.put(cp, if (c == null) 1L else c + 1L)
      i += Character.charCount(cp)
    }
    var sumKlnK = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val k = it.next().toDouble
      sumKlnK += k * math.log(k)
    }
    math.rint((math.log(n.toDouble) - sumKlnK / n) * 1e6) / 1e6
  }
}

/** Public Column API over the expression layer. */
object VectorFunctions {
  // Unconditional cast: a float->float element cast is eliminated by the
  // optimizer, and pre-analysis Columns can't be dataType-inspected.
  // ONE definition of the cast policy — the SQL surface (GraftExtensions)
  // uses the Expression-level form so the two surfaces cannot diverge.
  private[graft] def asFloatArrayExpr(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, ArrayType(FloatType))

  private def asFloatArray(c: Column): Expression =
    asFloatArrayExpr(Bridge.expression(c))

  def distance(a: Column, b: Column, metric: String): Column =
    Bridge.column(
      VectorDistance(asFloatArray(a), asFloatArray(b), DistanceKernels.metricId(metric)))

  def cosineDistance(a: Column, b: Column): Column = distance(a, b, "COSINE")
  /** Reference sign convention: returns -dot(a,b), lower-is-better. */
  def negDotProduct(a: Column, b: Column): Column = distance(a, b, "DOT_PRODUCT")

  def vectorNorm(a: Column): Column =
    Bridge.column(VectorNorm(asFloatArray(a)))

  /** Unit-normalize a vector (components emitted as double for exactness;
    * zero vectors pass through unchanged).
    */
  def normalize(a: Column): Column = {
    val n = vectorNorm(a)
    org.apache.spark.sql.functions.when(n === 0.0, a.cast("array<double>"))
      .otherwise(org.apache.spark.sql.functions.transform(a, x => x.cast("double") / n))
  }

  /** Normalize any numeric f16 BIT-PATTERN input to the short the kernel
    * takes: accept 0..0xFFFF (unsigned patterns — a bare ANSI short cast
    * throws for every negative half, >= 0x8000) as well as the signed
    * short itself; reject anything outside [-32768, 65535] loudly instead
    * of silently wrapping to an unrelated pattern. ONE definition shared
    * by the Column API and the SQL surface (GraftExtensions).
    */
  private[graft] def asF16BitsExpr(e: Expression): Expression = {
    // raw Catalyst constructors, NOT the Column DSL: a registry-built
    // expression must not embed unresolved ColumnNode wrappers
    import org.apache.spark.sql.catalyst.expressions._
    val i = Cast(e, IntegerType)
    val inRange = And(
      GreaterThanOrEqual(i, Literal(-32768)),
      LessThanOrEqual(i, Literal(65535)))
    val value = Cast(
      Subtract(BitwiseXor(BitwiseAnd(i, Literal(0xFFFF)), Literal(0x8000)), Literal(0x8000)),
      ShortType)
    val err = Cast(
      new RaiseError(Concat(Seq(
        Literal(org.apache.spark.unsafe.types.UTF8String
          .fromString("f16 bits out of range [-32768, 65535]: "), StringType),
        Cast(i, StringType)))),
      ShortType)
    If(inRange, value, err)
  }

  def f16ToF32(c: Column): Column =
    Bridge.column(F16ToF32(asF16BitsExpr(Bridge.expression(c))))
}
