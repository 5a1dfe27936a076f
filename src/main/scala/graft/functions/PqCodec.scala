package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import graft.functions.QuantizedVec.{elem, elemType, isFloat, quantize, quantizeCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the product-quantization codec.
  *
  * The PQ encode pass is the one unavoidable linear-in-n stage of the
  * IVFADC family: every corpus vector must find, per subspace, its nearest
  * of `pqk` codewords. Expressed relationally (components ⋈ codebook on
  * dimension → groupBy argmin) that is an n × Dim × pqk row explosion
  * through a hash aggregate — 8.2 BILLION shuffle rows at the 2M-vector
  * decade with the 64-codeword ladder rung. But the whole computation is
  * per-row: PqM × pqk × (Dim/PqM) primitive long ops against a codebook
  * that is control-plane sized (pqk × Dim ≤ 16k longs even at the k=256
  * rung). So it compiles to a tight loop inside whole-stage codegen, the
  * same pattern as [[QuantizedVec.QuantizedDot]], with the codebook held
  * as a reference object in the generated class.
  *
  * Bit-equivalence with the relational formulation (which the DuckDB
  * oracle still replays): quantization is the identical
  * [[QuantizedVec.quantize]], distances are exact long arithmetic, the
  * argmin keeps the LOWEST codeword id on ties (`<`, not `<=` — matching
  * `min(struct(dist2, c))`), and dimensions beyond the array's length are
  * skipped exactly as the component join's inner semantics skip them.
  */
object PqCodec {

  /** A codec kernel: one embedding child, a codebook with
    * `codebook(m)(c)(j)` the already-quantized component j of codeword c in
    * subspace m, and an `array<long>` result. */
  sealed trait CodebookExpr extends UnaryExpression {
    def codebook: Array[Array[Array[Long]]]
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // The synthesized case-class equals compares the array field by
    // REFERENCE, so two structurally identical kernels never compare
    // equal — defeating Catalyst common-subexpression elimination /
    // canonicalization. Compare the codebook by value.
    override def equals(other: Any): Boolean = other match {
      case o: CodebookExpr => o.getClass == getClass && o.child == child &&
        java.util.Arrays.deepEquals(
          o.codebook.asInstanceOf[Array[AnyRef]], codebook.asInstanceOf[Array[AnyRef]])
      case _ => false
    }
    override def hashCode(): Int = 31 * child.hashCode +
      java.util.Arrays.deepHashCode(codebook.asInstanceOf[Array[AnyRef]])

    /** Quantized squared L2 between subvector m of `a` and codeword c;
      * dimensions past the array's length are skipped. */
    protected def dist2(a: ArrayData, fl: Boolean, m: Int, c: Int): Long = {
      val cw = codebook(m)(c)
      var s = 0L
      var j = 0
      while (j < cw.length) {
        val idx = m * cw.length + j
        if (idx < a.numElements()) {
          val diff = quantize(elem(a, fl, idx)) - cw(j)
          s += diff * diff
        }
        j += 1
      }
      s
    }

    /** Generated twin of [[dist2]] inside the (m, c) loops. The kernel's
      * Java fragments, given the codebook, m, c and the distance `s`: before
      * the loops, at the head of subspace m, after each distance, at the
      * end of subspace m, and the result array. */
    protected def genLoops(ctx: CodegenContext, ev: ExprCode)(
        parts: (String, String, String, String) => (String, String, String, String, String))
        : ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val cb = ctx.addReferenceObj("pqcb", codebook, "long[][][]")
        val Seq(i, m, c, j, s, sub, n) = Seq("i", "m", "c", "j", "s", "sub", "n").map(ctx.freshName)
        val get = CodeGenerator.getValue(arr, elemType(child), i)
        val (before, openM, onDist, closeM, result) = parts(cb, m, c, s)
        s"""
           |int $n = $arr.numElements();
           |$before
           |for (int $m = 0; $m < $cb.length; $m++) {
           |  int $sub = $cb[$m][0].length;
           |  $openM
           |  for (int $c = 0; $c < $cb[$m].length; $c++) {
           |    long $s = 0L;
           |    for (int $j = 0; $j < $sub; $j++) {
           |      int $i = $m * $sub + $j;
           |      if ($i < $n) {
           |        long __df = ${quantizeCode(get)} - $cb[$m][$c][$j];
           |        $s += __df * __df;
           |      }
           |    }
           |    $onDist
           |  }
           |  $closeM
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($result);
         """.stripMargin
      })
  }

  /** argmin codes per subspace: array<long> of length PqM = codebook.length,
    * the lowest codeword id on ties. The generated code keeps the running
    * argmin in two locals: no per-row distance table. */
  case class PqEncode(child: Expression, codebook: Array[Array[Array[Long]]])
      extends CodebookExpr {
    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val fl = isFloat(child)
      new GenericArrayData(Array.tabulate(codebook.length) { m =>
        codebook(m).indices.minBy(dist2(a, fl, m, _)).toLong // first of ties
      })
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val Seq(codes, best, bc) = Seq("codes", "best", "bc").map(ctx.freshName)
      genLoops(ctx, ev)((cb, m, c, s) => (
        s"long[] $codes = new long[$cb.length];",
        s"long $best = Long.MAX_VALUE; long $bc = 0L;",
        s"if ($s < $best) { $best = $s; $bc = (long) $c; }",
        s"$codes[$m] = $bc;",
        codes))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Full ADC lookup table for a PROBE vector: array<long> of length
    * PqM × pqk, entry m·pqk + c = quantized L2 between the probe's m-th
    * subvector and codeword c. Runs only on the ~200-row probe batch. */
  case class PqDistTable(child: Expression, codebook: Array[Array[Array[Long]]])
      extends CodebookExpr {
    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val fl = isFloat(child)
      new GenericArrayData(for (m <- codebook.indices.toArray;
        c <- codebook(m).indices) yield dist2(a, fl, m, c))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val Seq(out, pqk) = Seq("out", "pqk").map(ctx.freshName)
      genLoops(ctx, ev)((cb, m, c, s) => (
        s"int $pqk = $cb[0].length; long[] $out = new long[$cb.length * $pqk];",
        "",
        s"$out[$m * $pqk + $c] = $s;",
        "",
        out))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  def pqEncode(emb: Column, codebook: Array[Array[Array[Long]]]): Column =
    ColumnShim.column(PqEncode(ColumnShim.expression(emb), codebook))

  def pqDistTable(emb: Column, codebook: Array[Array[Array[Long]]]): Column =
    ColumnShim.column(PqDistTable(ColumnShim.expression(emb), codebook))
}
