package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, sqrt}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding-vector arithmetic.
  *
  * Cosine similarity over `array<float>` embeddings is the hot inner loop of
  * the similarity/near-dup operators — at 100 TB it runs billions of times,
  * so it is implemented as a codegen'd Catalyst `Expression` (a tight
  * primitive `long` loop inside whole-stage codegen) rather than a Scala UDF
  * (boxing + serialization) or a higher-order-function chain (per-element
  * lambda dispatch).
  *
  * Values are quantized to integers — `floor(x * Scale + 0.5)` — and
  * accumulated in exact `long` arithmetic. This makes every similarity score
  * a deterministic function of the inputs regardless of summation order,
  * partitioning, or SIMD strategy, which is what lets the DuckDB oracle
  * reproduce the engine's results bit-for-bit (floating-point dot products
  * are order-dependent; integer ones are not). `floor(x+0.5)` is used
  * explicitly because Java's, Spark's and DuckDB's `round` disagree on ties.
  *
  * This object is the one home of that rule: its JVM form ([[quantize]]),
  * its generated-Java form ([[quantizeCode]]), its Column form
  * ([[quantized]]) and its DuckDB twin ([[quantizeSql]]).
  */
object QuantizedVec {
  /** Quantization scale: six decimal digits of every component. */
  val Scale: Double = 1e6

  /** JVM form of the quantization rule. */
  def quantize(x: Double): Long = math.floor(x * Scale + 0.5).toLong

  /** Generated-Java form of [[quantize]] over a numeric Java expression. */
  private[functions] def quantizeCode(x: String): String =
    s"(long) java.lang.Math.floor(((double) $x) * $Scale + 0.5)"

  /** Column form of [[quantize]]: floor(x · Scale + 0.5) as BIGINT. */
  def quantized(x: Column): Column = floor(x.cast("double") * Scale + 0.5).cast("long")

  /** DuckDB SQL for the quantized value of one element (oracle parity). */
  def quantizeSql(e: String): String = s"CAST(floor($e * $Scale + 0.5) AS BIGINT)"

  private[functions] def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Whether a vector expression holds floats (else doubles); any other
    * element type fails when the expression is built or generated. */
  private[functions] def isFloat(e: Expression): Boolean = elemType(e) match {
    case FloatType => true
    case DoubleType => false
    case et => throw new IllegalArgumentException(s"unsupported element type $et")
  }

  /** Element `i` of a float or double array as a double. */
  private[functions] def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ q(a_i)·q(b_i) over the common prefix of two numeric arrays. */
  case class QuantizedDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (flL, flR) = (isFloat(left), isFloat(right))
      val n = math.min(a.numElements(), b.numElements())
      var s = 0L
      var i = 0
      while (i < n) {
        s += quantize(elem(a, flL, i)) * quantize(elem(b, flR, i))
        i += 1
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (arr1, arr2) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val getL = CodeGenerator.getValue(arr1, elemType(left), i)
        val getR = CodeGenerator.getValue(arr2, elemType(right), i)
        s"""
           |int $n = java.lang.Math.min($arr1.numElements(), $arr2.numElements());
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ${quantizeCode(getL)} * ${quantizeCode(getR)};
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ q(v_i)² — the quantized squared L2 norm. */
  case class QuantizedNormSq(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = normSq(v.asInstanceOf[ArrayData], isFloat(child))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, arr =>
        s"graft.functions.QuantizedVec.normSq($arr, ${isFloat(child)})")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The [[QuantizedNormSq]] loop, shared by its eval and generated code. */
  def normSq(a: ArrayData, isFloat: Boolean): Long = {
    var s = 0L
    var i = 0
    while (i < a.numElements()) {
      val q = quantize(elem(a, isFloat, i))
      s += q * q
      i += 1
    }
    s
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column API: quantized dot product of two vector columns. */
  def qdot(a: Column, b: Column): Column =
    ColumnShim.column(QuantizedDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Column API: quantized squared norm of a vector column. */
  def qnormsq(v: Column): Column =
    ColumnShim.column(QuantizedNormSq(ColumnShim.expression(v)))

  /** Cosine similarity from quantized integer dot/norms (deterministic). */
  def qcosine(a: Column, b: Column, normSqA: Column, normSqB: Column): Column =
    qdot(a, b).cast("double") / (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))

  /** Exact quantized squared L2 Σ(qa−qb)² = |qa|² − 2·qa·qb + |qb|²: exact
    * long arithmetic, equal to the per-dimension component sum for two
    * vectors of one length. */
  def ql2(a: Column, b: Column): Column =
    qnormsq(a) - lit(2L) * qdot(a, b) + qnormsq(b)
}
